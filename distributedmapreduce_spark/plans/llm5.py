"""Round-4 extension operators: prefix-filtered set-similarity join
(PPJoin-style, lossless), a portable Bloom-filter semi-join, positional
phrase search over the offset-bearing inverted index (the reference's
inverted index stores intra-line offsets — reducer_inverted_index.py:11-18
— and phrase adjacency is the canonical query that needs them),
time-range rolling windows, and group-wise OLS regression from exact
integer sufficient statistics.

Scale notes:
- set-similarity join: the classic all-pairs killer is joining every
  shared token; prefix filtering (Chaudhuri et al. SSJoin / Xiao et al.
  PPJoin) indexes only the first ``n - ceil(theta*n) + 1`` tokens of
  each set in a global rarest-first order — LOSSLESS for the Jaccard
  threshold, so the oracle is plain exact all-pairs SQL.  Candidate
  fan-out concentrates on rare tokens instead of hot ones.
- Bloom semi-join: at 100 TB the win of a semi join is not shuffling
  the fact side; a Bloom filter of the build keys broadcast to the
  probe scan turns the shuffle into a map-side filter (Spark does this
  natively via spark.sql.optimizer.runtime.bloomFilter.enabled — this
  operator is the portable, oracle-checkable twin with md5 hashing and
  an explicit false-positive audit).
- time-range rolling window: RANGE frames on an integer epoch key are
  bounded by the frame width, not the partition size — no
  whole-partition buffering like an unbounded ROWS frame.
- group-wise OLS: one scan, five integer partial aggregates per group;
  the 128-bit-exact sums make slope/intercept/r2 bit-identical across
  engines (sum order never matters for integers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import shingles as _shingles, tokens as _tokens
from ..operators.simjoin import pair_sides
from .core import EVENTS_US, query, spread, t
from .llm3 import _md5_u32, _md5_u32_sql, _md5_uniform, _md5_uniform_sql

# --------------------------------------------------------------------------
# Prefix-filtered set-similarity self-join (PPJoin-lite, lossless)
# --------------------------------------------------------------------------

# theta = 1/2 as an exact integer ratio: every threshold comparison is
# integer cross-multiplication (jac >= theta  <=>  inter*DEN >= NUM*union),
# so no FP boundary can disagree between engines
_SSJ_NUM, _SSJ_DEN = 1, 2

# DuckDB twin of functions.text.shingles(text, 3) — same expression the
# dedup_ngram_jaccard oracle uses (llm.py)
_SSJ_SHINGLES_SQL = """
      list_distinct(list_transform(
        range(1, greatest(len(list_filter(str_split(lower(text),' '), x -> x <> '')) - 2, 0) + 1),
        i -> array_to_string(list_filter(str_split(lower(text),' '), x -> x <> '')[i:i+2], ' ')
      ))"""


@query(
    "set_similarity_prefix_join",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang, source, {_SSJ_SHINGLES_SQL} AS sh
      FROM documents),
    n AS (SELECT doc_id, len(sh) AS n_sh FROM sh WHERE len(sh) > 0),
    ex AS (SELECT doc_id, lang, source, unnest(sh) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM ex a JOIN ex b
        ON a.lang = b.lang AND a.source = b.source
       AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           shared AS n_inter,
           na.n_sh + nb.n_sh - shared AS n_union,
           floor(CAST(shared AS DOUBLE)
                 / (na.n_sh + nb.n_sh - shared) * 1e4 + 0.5) / 1e4
             AS jaccard
    FROM inter
    JOIN n na ON na.doc_id = doc_a
    JOIN n nb ON nb.doc_id = doc_b
    WHERE shared * {_SSJ_DEN} >= {_SSJ_NUM} * (na.n_sh + nb.n_sh - shared)
    """,
)
def set_similarity_prefix_join(spark: SparkSession, sf: str) -> DataFrame:
    """Jaccard >= 1/2 self-join on 3-gram shingle SETS via lossless
    prefix filtering: order each doc's shingles rarest-first (by
    within-block document frequency), index only the first
    ``n - ceil(n/2) + 1`` of them, generate candidates from shared
    prefix shingles + the length filter, then verify the exact integer
    threshold on the full sets.  The prefix-filter lemma guarantees any
    pair meeting the threshold shares a prefix token under ANY
    consistent global order, so the result is exactly the all-pairs
    answer the oracle computes — no df-cap approximation needed (unlike
    dedup_ngram_jaccard's capped variant)."""
    docs = (
        t(spark, sf, "documents")
        .select(
            "doc_id",
            "lang",
            "source",
            F.array_sort(_shingles("text", 3)).alias("sh"),
        )
        .filter(F.size("sh") > 0)
        .withColumn("n_sh", F.size("sh"))
        .persist()  # shingled sets: prefix chain + 2 verify join-backs
    )
    ex = docs.select(
        "lang", "source", "doc_id", "n_sh", F.explode("sh").alias("shingle")
    )
    # within-block shingle document frequency — the shuffle on
    # (lang, source, shingle) is reused by the candidate join below
    rare = ex.withColumn(
        "df", F.count(F.lit(1)).over(W.partitionBy("lang", "source", "shingle"))
    )
    # rarest-first rank of each shingle inside its own doc: sorting the
    # (df, shingle) structs per doc is a per-row array op, no extra
    # shuffle beyond the collect back to one row per doc
    ordered = rare.groupBy("lang", "source", "doc_id", "n_sh").agg(
        F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("toks")
    )
    # prefix length n - ceil(theta*n) + 1 in exact integer arithmetic:
    # ceil(n*NUM/DEN) = (n*NUM + DEN - 1) div DEN
    pref_len = (
        F.col("n_sh")
        - ((F.col("n_sh") * _SSJ_NUM + _SSJ_DEN - 1) / _SSJ_DEN).cast("long")
        + 1
    )
    # persisted: the candidate self-join reads BOTH sides from this
    # relation, and without the cache each side re-ran the whole
    # df-rank chain (explode → window → collect → re-explode) —
    # measured 2.57 s → 0.64 s at sf0.1 with the two persists
    # (SCALE.md §10g).  Size is Σ prefix lengths ≈ half the shingle
    # stream — corpus-linear, MEMORY_AND_DISK.
    prefix = ordered.select(
        "lang",
        "source",
        "doc_id",
        "n_sh",
        F.explode(F.slice("toks", 1, pref_len)).alias("ptok"),
    ).select(
        "lang",
        "source",
        "doc_id",
        "n_sh",
        F.col("ptok.shingle").alias("shingle"),
    ).persist()
    a = prefix.select(
        "lang", "source", "shingle",
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"),
    )
    b = prefix.select(
        "lang", "source", "shingle",
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"),
    )
    cand = (
        a.join(b, ["lang", "source", "shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: jac >= t requires t*na <= nb and t*nb <= na
        .filter(
            (F.col("n_b") * _SSJ_DEN >= F.col("n_a") * _SSJ_NUM)
            & (F.col("n_a") * _SSJ_DEN >= F.col("n_b") * _SSJ_NUM)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets = docs.select("doc_id", "sh", "n_sh")
    verified = (
        pair_sides(cand, sets, "doc_id", "doc_a", "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "n_union", F.col("n_sh_a") + F.col("n_sh_b") - F.col("n_inter")
        )
        .filter(F.col("n_inter") * _SSJ_DEN >= _SSJ_NUM * F.col("n_union"))
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "n_inter",
        "n_union",
        (
            F.floor(
                F.col("n_inter").cast("double") / F.col("n_union") * 1e4 + 0.5
            )
            / 1e4
        ).alias("jaccard"),
    )


# --------------------------------------------------------------------------
# Portable Bloom-filter semi-join with false-positive audit
# --------------------------------------------------------------------------

_BLOOM_ACCTBAL = 9000  # build side: customers above this balance
_BLOOM_BITS_PER_KEY = 16  # m = 16 * |build|  (k=2 -> ~1.4% FP rate)


def _bloom_h_sql(tag: str, expr: str) -> str:
    """md5-based bucket hash, DuckDB side (per-digit hex -> int, no
    version-gated casts — same construction as llm3._md5_u32_sql)."""
    h = f"substr(md5(concat('{tag}:', CAST({expr} AS VARCHAR))), 1, 8)"
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1)"
        f" * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f"CAST({terms} AS BIGINT)"


def _bloom_h(tag: str, col) -> F.Column:
    h = F.md5(F.concat(F.lit(tag + ":"), col.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


@query(
    "bloom_semi_join_audit",
    oracle=f"""
    WITH build AS MATERIALIZED (
      SELECT c_custkey FROM customer WHERE c_acctbal > {_BLOOM_ACCTBAL}),
    m AS MATERIALIZED (
      SELECT count(*) * {_BLOOM_BITS_PER_KEY} AS m FROM build),
    bits AS (
      SELECT DISTINCT {_bloom_h_sql('b1', 'c_custkey')} % (SELECT m FROM m) AS bit
      FROM build
      UNION
      SELECT DISTINCT {_bloom_h_sql('b2', 'c_custkey')} % (SELECT m FROM m) AS bit
      FROM build),
    probe AS (
      SELECT o_orderkey, o_orderstatus, o_custkey,
             {_bloom_h_sql('b1', 'o_custkey')} % (SELECT m FROM m) AS h1,
             {_bloom_h_sql('b2', 'o_custkey')} % (SELECT m FROM m) AS h2
      FROM orders),
    cand AS (
      SELECT * FROM probe
      WHERE h1 IN (SELECT bit FROM bits) AND h2 IN (SELECT bit FROM bits)),
    flagged AS (
      SELECT c.o_orderstatus,
             CASE WHEN c.o_custkey IN (SELECT c_custkey FROM build)
                  THEN 1 ELSE 0 END AS is_true
      FROM cand c)
    SELECT o_orderstatus,
           count(*) AS n_candidates,
           CAST(sum(is_true) AS BIGINT) AS n_true,
           CAST(count(*) - sum(is_true) AS BIGINT) AS n_false_pos
    FROM flagged GROUP BY o_orderstatus
    """,
)
def bloom_semi_join_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Semi join orders->high-balance customers through an explicit
    Bloom filter (m = 16*|build| bits, k = 2 md5 hashes), reporting per
    order-status how many probe rows the filter admits vs how many are
    true matches.  The bit table and the build keys are broadcast, so
    the big probe side is never shuffled — the distributed shape of a
    runtime Bloom-pruned semi join (Spark's own
    spark.sql.optimizer.runtime.bloomFilter does this inside the scan;
    this portable twin makes the FP behavior observable and
    oracle-checkable)."""
    build = (
        t(spark, sf, "customer")
        .filter(F.col("c_acctbal") > _BLOOM_ACCTBAL)
        .select("c_custkey")
    )
    m_df = build.agg(
        (F.count(F.lit(1)) * _BLOOM_BITS_PER_KEY).alias("m")
    )
    bits = (
        build.crossJoin(F.broadcast(m_df))
        .select((_bloom_h("b1", F.col("c_custkey")) % F.col("m")).alias("bit"))
        .union(
            build.crossJoin(F.broadcast(m_df)).select(
                (_bloom_h("b2", F.col("c_custkey")) % F.col("m")).alias("bit")
            )
        )
        .distinct()
    )
    probe = (
        t(spark, sf, "orders")
        .select("o_orderkey", "o_orderstatus", "o_custkey")
        .crossJoin(F.broadcast(m_df))
        .withColumn("h1", _bloom_h("b1", F.col("o_custkey")) % F.col("m"))
        .withColumn("h2", _bloom_h("b2", F.col("o_custkey")) % F.col("m"))
    )
    cand = probe.join(
        F.broadcast(bits.withColumnRenamed("bit", "h1")), "h1"
    ).join(F.broadcast(bits.withColumnRenamed("bit", "h2")), "h2")
    flagged = cand.join(
        F.broadcast(build.withColumn("is_true", F.lit(1))),
        cand.o_custkey == build.c_custkey,
        "left",
    ).withColumn("is_true", F.coalesce(F.col("is_true"), F.lit(0)))
    return flagged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum("is_true").alias("n_true"),
        (F.count(F.lit(1)) - F.sum("is_true")).alias("n_false_pos"),
    )


# --------------------------------------------------------------------------
# Positional phrase search over the offset-bearing inverted index
# --------------------------------------------------------------------------

_PHRASES = ("join filter", "sort key", "query key scan")


def _phrase_count_sql(phrase: str) -> str:
    ws = phrase.split()
    k = len(ws)
    conds = " AND ".join(
        f"w[i + {j}] = '{ws[j]}'" for j in range(k)
    )
    return f"""
      SELECT doc_id, '{phrase}' AS phrase,
             len(list_filter(range(1, greatest(len(w) - {k - 1}, 0) + 1),
                             i -> {conds})) AS n_occurrences,
             coalesce(list_min(list_filter(
               range(1, greatest(len(w) - {k - 1}, 0) + 1),
               i -> {conds})), 0) AS first_pos
      FROM toks
      WHERE len(list_filter(range(1, greatest(len(w) - {k - 1}, 0) + 1),
                            i -> {conds})) > 0"""


@query(
    "phrase_search_positions",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(str_split(lower(text), ' '), x -> x <> '') AS w
      FROM documents)
    {" UNION ALL ".join(_phrase_count_sql(p) for p in _PHRASES)}
    """,
)
def phrase_search_positions(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-word phrase search via the POSITIONAL inverted index: each
    phrase word filters the (word, doc_id, pos) postings, adjacency is
    a chain of equi-joins on (doc_id, pos + offset).  This is why the
    reference's inverted index stores intra-line offsets
    (reducer_inverted_index.py:11-18, mapper S7's per-token positions)
    — without positions a postings AND (search_multiword_and) can't
    distinguish "join filter" from "filter ... join".  Per phrase the
    postings filters are tiny selective scans of one shared index and
    every join is an equi-join — no theta join, no per-doc rescans."""
    # persisted: this IS the shared positional index — without the
    # cache every per-word postings filter re-tokenized the corpus
    # (one FileScan per phrase word, 4 at the current phrase set;
    # budget now default 1).  The cache is the (doc_id, pos, w)
    # postings stream a real search stack materializes once.
    toks = (
        t(spark, sf, "documents")
        .select("doc_id", F.posexplode(_tokens("text", lowercase=True)))
        .select(
            "doc_id", (F.col("pos") + 1).alias("pos"), F.col("col").alias("w")
        )
        .persist()
    )
    results = []
    for phrase in _PHRASES:
        ws = phrase.split()
        m = toks.filter(F.col("w") == ws[0]).select("doc_id", "pos")
        for j, wj in enumerate(ws[1:], start=1):
            nxt = toks.filter(F.col("w") == wj).select(
                "doc_id", (F.col("pos") - j).alias("pos")
            )
            m = m.join(nxt, ["doc_id", "pos"])
        results.append(
            m.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_occurrences"),
                F.min("pos").alias("first_pos"),
            ).select(
                "doc_id",
                F.lit(phrase).alias("phrase"),
                "n_occurrences",
                "first_pos",
            )
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


# --------------------------------------------------------------------------
# Time-range rolling window (RANGE frame over epoch seconds)
# --------------------------------------------------------------------------


@query(
    "window_time_range_rolling",
    oracle=f"""
    SELECT event_id, user_id,
           epoch_us(ts) // 1000000 AS sec,
           count(*) OVER w AS n_1h,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w
                AS BIGINT) AS sum_cents_1h
    FROM {EVENTS_US}
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY epoch_us(ts) // 1000000
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def window_time_range_rolling(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user rolling 1-hour event count and value sum via a RANGE
    frame keyed on epoch seconds.  A RANGE frame bounded by the window
    width buffers at most one hour of rows per user regardless of
    partition size — unlike unbounded ROWS frames there is no
    whole-history state, so the operator scales with event RATE, not
    event history.  Values are exact cents (2dp-exact in the data), so
    the rolling sums are integer-exact across engines."""
    ev = t(spark, sf, "events").select(
        "event_id",
        "user_id",
        (F.unix_micros("ts") / 1_000_000).cast("long").alias("sec"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "sec",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("cents").over(w).alias("sum_cents_1h"),
    )


# --------------------------------------------------------------------------
# Group-wise OLS regression from exact integer sufficient statistics
# --------------------------------------------------------------------------


@query(
    "groupwise_ols_price_qty",
    oracle="""
    WITH s AS (
      SELECT l_returnflag, l_linestatus,
             count(*) AS n,
             sum(CAST(round(l_quantity) AS BIGINT))                AS sx,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT))     AS sy,
             sum(CAST(round(l_quantity) AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT))   AS sxy,
             sum(CAST(round(l_quantity) AS BIGINT)
                 * CAST(round(l_quantity) AS BIGINT))              AS sxx,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT))   AS syy
      FROM lineitem GROUP BY l_returnflag, l_linestatus),
    d AS (
      SELECT l_returnflag, l_linestatus, n,
             CAST(n * sxy - sx * sy AS DOUBLE)       AS cov_n,
             CAST(n * sxx - sx * sx AS DOUBLE)       AS varx_n,
             CAST(n * syy - sy * sy AS DOUBLE)       AS vary_n,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      FROM s)
    SELECT l_returnflag, l_linestatus, n,
           floor(cov_n / varx_n * 1e4 + 0.5) / 1e4 AS slope_cents,
           floor((syd - cov_n / varx_n * sxd) / n * 1e2 + 0.5) / 1e2
             AS intercept_cents,
           floor(cov_n * cov_n / (varx_n * vary_n) * 1e6 + 0.5) / 1e6
             AS r2
    FROM d
    """,
)
def groupwise_ols_price_qty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(returnflag, linestatus) OLS of price-cents on quantity: one
    scan producing five integer partial aggregates per group (classic
    map-side-combinable sufficient statistics), then slope / intercept
    / r2 on the driver-free reduced rows.  Sums run as DECIMAL(38,0)
    on Spark and HUGEINT on DuckDB — both 128-bit exact, so the
    combination arithmetic starts from bit-identical integers and the
    final doubles agree everywhere (sum(double) would be merge-order-
    dependent; see ORACLE_PORTABILITY.md round-4 addendum)."""
    li = t(spark, sf, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    dec = "decimal(38,0)"
    s = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
    )
    n_dec = F.col("n").cast(dec)
    cov_n = (n_dec * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx_n = (n_dec * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary_n = (n_dec * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    slope = cov_n / varx_n
    return s.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        (F.floor(slope * 1e4 + 0.5) / 1e4).alias("slope_cents"),
        (F.floor((syd - slope * sxd) / F.col("n") * 1e2 + 0.5) / 1e2).alias(
            "intercept_cents"
        ),
        (F.floor(cov_n * cov_n / (varx_n * vary_n) * 1e6 + 0.5) / 1e6).alias(
            "r2"
        ),
    )


# --------------------------------------------------------------------------
# Weighted reservoir sample per group (A-ES, portable)
# --------------------------------------------------------------------------

_AES_K = 4  # sample size per event type


@query(
    "weighted_sample_aes",
    oracle=f"""
    SELECT event_type, event_id FROM (
      SELECT event_type, event_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY -ln(({_md5_u32_sql('aes', 'event_id')} + 1)
                           / 4294967296.0)
                        / CAST(round(value * 100) AS BIGINT),
                        event_id) AS rn
      FROM {EVENTS_US}
      WHERE round(value * 100) >= 1)
    WHERE rn <= {_AES_K}
    """,
)
def weighted_sample_aes(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k=4 per event type, via
    the A-ES exponential-race key (Efraimidis-Spirakis): rank by
    ``-ln(u)/w`` ascending with the portable md5 uniform, keep the top
    k.  This is THE distributed weighted-sampling primitive — a
    per-group top-k over a map-side-computable key, one shuffle on the
    group, mergeable partial top-ks, no sequential reservoir state.
    Complements sample_k_per_group (unweighted) and
    quality_weighted_sample (Bernoulli, variable size).  The rank key
    uses one transcendental (ln); a cross-engine rank flip would need
    two md5-derived keys within ~1 ulp of each other — the same
    measure-zero class as transcendental-valued rounds
    (ORACLE_PORTABILITY.md).  u is (u32+1)/2^32 in (0,1], so ln is
    finite everywhere; weights are exact positive cents."""
    ev = t(spark, sf, "events").filter(F.round(F.col("value") * 100) >= 1)
    u = (_md5_u32("aes", F.col("event_id")) + 1) / F.lit(4294967296.0)
    key = -F.log(u) / F.round(F.col("value") * 100).cast("long")
    w = W.partitionBy("event_type").orderBy(key, "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _AES_K)
        .select("event_type", "event_id")
    )


# --------------------------------------------------------------------------
# Order-independent additive table checksum (reconciliation primitive)
# --------------------------------------------------------------------------


@query(
    "table_checksum_additive",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n_rows,
           CAST(sum({_md5_u32_sql(
               'cks',
               "concat_ws('|', CAST(o_orderkey AS VARCHAR),"
               " CAST(o_custkey AS VARCHAR), o_orderstatus,"
               " CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),"
               " CAST(CAST(o_orderdate AS DATE) AS VARCHAR),"
               " o_orderpriority)",
           )}) AS BIGINT) AS checksum
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def table_checksum_additive(spark: SparkSession, sf: str) -> DataFrame:
    """Order-independent per-bucket table checksum: md5-u32 of a
    canonical row serialization, SUMMED per o_orderstatus.  Addition
    is commutative/associative, so the checksum is identical for any
    row order, partitioning, or merge schedule — which is exactly how
    you verify a 100 TB copy/migration without sorting either side
    (compare (n_rows, checksum) per bucket; a single changed row moves
    the sum).  Canonical form pins every engine-variant surface:
    doubles ship as exact cents, timestamps as ISO DATE strings.
    Map-side combinable single scan; sum of u32s overflows long only
    past ~2e9 rows per bucket — bucket finer or widen to DECIMAL
    there."""
    o = t(spark, sf, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        F.col("o_orderdate").cast("date").cast("string"),
        F.col("o_orderpriority"),
    )
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_md5_u32("cks", canon)).alias("checksum"),
    )


# --------------------------------------------------------------------------
# Misra-Gries heavy hitters — two-pass EXACT frequent-item detection
# --------------------------------------------------------------------------

_MG_K = 49  # sketch capacity; guarantees coverage of all > n/(K+1) items


@query(
    "heavy_hitters_mg",
    # the oracle is the EXACT frequency filter: the MG candidate pass
    # is lossless for every item above n/(K+1) (pigeonhole over the
    # per-partition sketches), so a hash match here PROVES the sketch
    # guarantee held — a dropped heavy hitter would show as a missing
    # row, a bogus candidate would be filtered by its exact count.
    oracle=f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS word
      FROM documents),
    n AS (SELECT count(*) AS n FROM tok),
    c AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word)
    SELECT word, CAST(cnt AS BIGINT) AS cnt
    FROM c, n WHERE cnt * {_MG_K + 1} > n
    """,
)
def heavy_hitters_mg(spark: SparkSession, sf: str) -> DataFrame:
    """Exact corpus-wide heavy hitters (count > n/(K+1), K=49) via the
    classic two-pass Misra-Gries pattern — the 100 TB way to find
    frequent tokens/URLs/keys WITHOUT aggregating the vocabulary:

    Pass 1 (one scan, NO shuffle): each partition maintains a K-entry
    Misra-Gries counter sketch over its token stream inside one
    mapInPandas pass, emitting its <= K surviving candidate words plus
    its token count.  Any item with global count > n/(K+1) must exceed
    n_p/(K+1) in some partition (pigeonhole over sums), so the UNION
    of partition sketches covers every qualifying item — the
    deficiency bound of merged MG sketches (Misra & Gries 1982).
    Driver state: partitions x K strings, corpus-size-independent.

    Pass 2 (one scan, candidate-pruned shuffle): exact counts for the
    broadcast candidate set only — rows for non-candidate tokens are
    dropped at the scan, so the shuffle carries only heavy-hitter
    occurrences, never the vocabulary.  The integer cross-multiplied
    threshold cnt*(K+1) > n keeps the boundary exact on both engines.
    Scan budget: 2 corpus scans BY DESIGN (the two passes; pinned in
    tests/test_explain_lint.py)."""
    from collections.abc import Iterator

    import pandas as pd

    # spread before the sketch pass: the per-partition MG counter is
    # the heavy Python stage of this query, and a small corpus file
    # arrives as one scan split (guide §2.5) — without the spread the
    # whole pass-1 token stream runs through one Python worker.
    # Narrowed to the text column (opt r14, VERDICT r13 #5): the
    # spread exchange round-robins ROWS, so every projected-out column
    # is shuffle bytes for nothing — the unnarrowed form shipped the
    # full documents row (guide §2.3: project before the exchange).
    docs = spread(t(spark, sf, "documents").select("text"))
    toks = docs.select(
        F.explode(_tokens("text")).alias("word")
    )
    k = _MG_K

    def _mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # WEIGHTED Misra-Gries (opt r13, was a per-token Python loop —
        # guide §4.2): each Arrow batch collapses to exact (word,
        # count) pairs via the C-implemented value_counts, and the
        # sketch ingests counts.  The decrement step subtracts the
        # minimum surviving counter from all k+1 entries at once;
        # every unit decremented is matched on k other counters plus
        # the incoming item, so total decrement per item stays
        # <= n_p/(k+1) — the SAME deficiency bound as the unit-step
        # sketch (Misra & Gries 1982, weighted form), hence the same
        # coverage guarantee: any item with partition count
        # > n_p/(k+1) survives.  Candidate SETS may differ from the
        # unit-step sketch (MG summaries are not unique); the query
        # output cannot — pass 2 publishes exact counts filtered by
        # the exact global threshold, and coverage is what the proof
        # needs.  The oracle hash-checks exactly that.
        counters: dict[str, int] = {}
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            for w, c in pdf["word"].value_counts().items():
                counters[w] = counters.get(w, 0) + int(c)
                if len(counters) > k:
                    m = min(counters.values())
                    counters = {
                        key: v - m for key, v in counters.items() if v > m
                    }
        yield pd.DataFrame(
            {
                "word": list(counters) + [None],
                "n_part": [0] * len(counters) + [n_part],
            }
        )

    # ONE collect of the bounded sketch (<= partitions x (K+1) rows)
    # feeds both the candidate set and n — collecting is the point:
    # re-deriving them lazily would re-run the sketch scan per branch
    sketch_rows = toks.mapInPandas(_mg, "word string, n_part long").collect()
    n_total = sum(r.n_part for r in sketch_rows)
    cand_words = sorted({r.word for r in sketch_rows if r.word is not None})
    candidates = spark.createDataFrame(
        [(w,) for w in cand_words], "word string"
    )
    return (
        toks.join(F.broadcast(candidates), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * (k + 1) > F.lit(int(n_total)))
    )
