"""Lake-maintenance and pipeline-analytics operators, round 3:
MERGE-style upsert, funnel analysis over events, incremental novelty
detection for streaming corpus ingestion, embedding int8 quantization
QA, and the batch twin of the streaming exact-dedup operator.

These extend the reference's surface the same way plans/llm*.py do
(the reference — /root/reference/master.py:99-167 — runs exactly one
batch MapReduce job; everything here is the operational layer a user
replacing it with a lake engine needs).  Every query follows the
ORACLE_PORTABILITY.md rules: BIGINT-pinned outputs, µs-pinned event
timestamps via EVENTS_US, IEEE-deterministic double arithmetic with
identical operation order on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.similarity import jaccard_e6
from ..functions.text import norm_fingerprint, shingles, tokens
from ..operators.simjoin import pair_sides
from .core import EVENTS_US, query, spread, t
from .llm3 import _md5_uniform, _md5_uniform_sql


@query(
    "merge_upsert_orders",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             o_totalprice * 1.1 AS o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0)
    SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM updates u
                      WHERE u.o_orderkey = o.o_orderkey)
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM updates
    """,
)
def merge_upsert_orders(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO (SCD type-1 upsert) expressed as anti-join + union:
    rows matched by the update set are replaced, everything else
    passes through — the lake-table maintenance op behind every CDC
    ingest.  The deterministic "update feed" (keys ≡ 0 mod 7, status
    'U', price +10%) stands in for a real changelog so the oracle can
    replay it.  Scale: one shuffle join on the merge key; with both
    sides bucketed on o_orderkey (sources/io.py::write_bucketed) the
    exchange disappears entirely, which is how a 100 TB MERGE stays
    I/O-bound instead of shuffle-bound.  The double `* 1.1` is a
    single IEEE multiply, bit-identical on both engines."""
    # persisted: the update feed and both anti-join sides read this
    # projection — one orders scan instead of three
    orders = (
        t(spark, sf, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .persist()
    )
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
    )
    base = orders.join(updates, "o_orderkey", "left_anti").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    return base.unionByName(updates)


@query(
    "event_funnel_conversion",
    oracle=f"""
    WITH w1 AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view
      FROM {EVENTS_US} events),
    w2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view
                         THEN ts END)
                  OVER (PARTITION BY user_id) AS t_click
      FROM w1),
    w3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click
                         THEN ts END)
                  OVER (PARTITION BY user_id) AS t_purchase
      FROM w2),
    per_user AS (
      SELECT user_id, max(t_view) AS tv, max(t_click) AS tc,
             max(t_purchase) AS tp
      FROM w3 GROUP BY user_id)
    SELECT count(tv) AS n_view_users,
           count(tc) AS n_click_users,
           count(tp) AS n_purchase_users
    FROM per_user
    """,
)
def event_funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): a user converts a
    stage only by an event STRICTLY AFTER their first entry into the
    previous stage — the product-analytics query sessionization's
    cousin.  Three chained per-user window minima share ONE hash
    partitioning on user_id (no sort needed for unordered min), so
    the whole funnel is a single shuffle plus a scalar fold; at
    100 TB the state per user is three timestamps, never the event
    list.  Timestamps run µs-pinned on both engines (EVENTS_US)."""
    ev = t(spark, sf, "events")
    w = W.partitionBy("user_id")
    ev = ev.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    ev = ev.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    ev = ev.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = ev.groupBy("user_id").agg(
        F.max("t_view").alias("tv"),
        F.max("t_click").alias("tc"),
        F.max("t_purchase").alias("tp"),
    )
    return per_user.agg(
        F.count("tv").alias("n_view_users"),
        F.count("tc").alias("n_click_users"),
        F.count("tp").alias("n_purchase_users"),
    )


@query(
    "incremental_novelty_exact",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g'))))
               AS fingerprint,
             {_md5_uniform_sql('inc', 'doc_id')} < 0.8 AS in_corpus
      FROM documents),
    corpus AS (SELECT DISTINCT fingerprint FROM fp WHERE in_corpus)
    SELECT f.doc_id, (c.fingerprint IS NULL) AS is_novel
    FROM fp f LEFT JOIN corpus c USING (fingerprint)
    WHERE NOT f.in_corpus
    """,
)
def incremental_novelty_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental ingest novelty check: which docs of an arriving
    batch are exact-duplicates of the existing corpus?  The batch/
    corpus split is the deterministic md5 uniform (80% corpus) so the
    oracle can replay it; production swaps the corpus scan for the
    persisted fingerprint index (operators/index_store.py) the same
    way dedup_minhash_lsh does — an arriving batch then joins against
    an index read, not a 100 TB corpus re-scan, and the join
    broadcasts whenever the BATCH side is the small one.  This is the
    continuous-crawl counterpart of dedup_exact (plans/llm.py)."""
    docs = t(spark, sf, "documents")
    fp = docs.select(
        "doc_id",
        norm_fingerprint(F.col("text")).alias("fingerprint"),
        (_md5_uniform("inc", F.col("doc_id")) < 0.8).alias("in_corpus"),
    )
    corpus = (
        fp.filter(F.col("in_corpus"))
        .select("fingerprint")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    batch = fp.filter(~F.col("in_corpus"))
    return batch.join(corpus, "fingerprint", "left").select(
        "doc_id", F.col("hit").isNull().alias("is_novel")
    )


@query(
    "embedding_quantize_error",
    oracle="""
    WITH s AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_aggregate(list_transform(embedding,
                            x -> abs(CAST(x AS DOUBLE))), 'max') AS scale
      FROM embeddings)
    SELECT vec_id,
           CAST(floor(list_aggregate(
             list_transform(v, x -> abs(x -
               (floor((x / scale) * 127.0 + 0.5) * scale) / 127.0)),
             'max') * 1e7) AS BIGINT) AS max_err_e7
    FROM s WHERE scale > 0
    """,
)
def embedding_quantize_error(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 quantization QA: per-vector absmax scale,
    q = floor(x/scale*127 + 0.5), report the max reconstruction error
    (scaled to 1e-7 ticks, BIGINT-pinned per ORACLE_PORTABILITY.md).
    This is the storage-side op that turns a 100 TB float32 embedding
    corpus into 25 TB of int8 for ANN serving — the error histogram
    is the acceptance gate.  All arithmetic is elementwise IEEE double
    in the same operation order on both engines (floor, not round —
    round() ties break differently across engines), so the oracle is
    bit-exact.  Map-side only: no shuffle, no UDF — array lambdas run
    in codegen."""
    emb = t(spark, sf, "embeddings")
    s = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        F.array_max(
            F.transform("embedding", lambda x: F.abs(x.cast("double")))
        ).alias("scale"),
    ).filter(F.col("scale") > 0)
    scale = F.col("scale")
    err = F.transform(
        "v",
        lambda x: F.abs(
            x - (F.floor((x / scale) * 127.0 + 0.5) * scale) / 127.0
        ),
    )
    return s.select(
        "vec_id",
        F.floor(F.array_max(err) * 1e7).cast("long").alias("max_err_e7"),
    )


@query(
    "stream_dedup_counts",
    oracle="""
    WITH stream AS (
      SELECT event_id, event_type FROM events
      UNION ALL
      SELECT event_id, event_type FROM events WHERE event_id % 10 = 0)
    SELECT event_type, count(DISTINCT event_id) AS n
    FROM stream GROUP BY event_type
    """,
)
def stream_dedup_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Batch twin of streaming/joins.py::dedup_events_stream (the
    at-least-once -> exactly-once repair): a deterministic 10%
    re-delivery is unioned in, duplicates dropped on event_id, then
    counted per type — equal to counting the original stream, which
    is exactly the exactly-once guarantee.  The streaming version
    bounds its state with dropDuplicatesWithinWatermark (one key per
    event_id inside the watermark, evicted after);
    tests/test_streaming.py asserts stream == batch.  This entry
    makes the dedup operator driver-visible."""
    ev = t(spark, sf, "events").select("event_id", "event_type")
    resent = ev.filter(F.col("event_id") % 10 == 0)
    stream = ev.unionByName(resent)
    return (
        stream.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "temporal_scd2_lookup",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_id,
             coalesce(CAST(floor(value / 25.0) AS BIGINT), -1) AS tier
      FROM {EVENTS_US} events),
    chg AS (
      SELECT user_id, ts, event_id, tier FROM (
        SELECT *, lag(tier) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM e)
      WHERE prev IS NULL OR prev <> tier),
    hist AS (
      SELECT user_id, tier, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM chg)
    SELECT ev.event_id, h.tier AS tier_at_event
    FROM {EVENTS_US} ev
    JOIN hist h
      ON ev.user_id = h.user_id
     AND ev.ts >= h.valid_from
     AND (h.valid_to IS NULL OR ev.ts < h.valid_to)
    WHERE ev.event_type = 'purchase'
    """,
)
def temporal_scd2_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Fact-to-SCD2-dimension temporal join: each purchase event looks
    up the tier that was valid AT ITS TIMESTAMP in the half-open
    [valid_from, valid_to) history built by scd2_user_tier_history —
    the standard warehouse pattern for joining facts to
    slowly-changing dimensions.  Plan: equi-join on user_id with the
    interval predicate applied post-join — per-user history rows are
    bounded by that user's tier changes, so the fan-out is
    (events x history rows) WITHIN a user only, never cross-user;
    both sides share one (user_id) hash partitioning.  Events with
    ts exactly at a boundary land in the LATER window (>= from,
    < to) on both engines."""
    ev = t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tiered = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.coalesce(
            F.floor(F.col("value") / 25.0).cast("long"), F.lit(-1)
        ).alias("tier"),
    )
    chg = (
        tiered.withColumn("prev", F.lag("tier").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("tier")))
        .drop("prev")
    )
    hist = chg.select(
        "user_id",
        "tier",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    cond = (
        (purchases.user_id == hist.user_id)
        & (purchases.ts >= hist.valid_from)
        & (hist.valid_to.isNull() | (purchases.ts < hist.valid_to))
    )
    return purchases.join(hist, cond).select(
        "event_id", F.col("tier").alias("tier_at_event")
    )


_FUZZY_MAXDIST = 2  # verified Levenshtein threshold


@query(
    "fuzzy_vocab_pairs",
    oracle=f"""
    WITH vocab AS (
      SELECT DISTINCT w FROM (
        SELECT unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS w
        FROM documents))
    SELECT a.w AS word_a, b.w AS word_b,
           CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist
    FROM vocab a JOIN vocab b
      ON a.w < b.w
     AND abs(length(a.w) - length(b.w)) <= {_FUZZY_MAXDIST}
    WHERE levenshtein(a.w, b.w) <= {_FUZZY_MAXDIST}
    """,
)
def fuzzy_vocab_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """String-similarity self-join over the corpus vocabulary:
    word pairs within Levenshtein distance 2 — the typo/variant
    detection primitive behind query expansion and OCR cleanup.
    Blocking: |length difference| <= 2 (an edit changes length by at
    most 1 per operation), which at real vocabulary scale becomes a
    length-bucket equi-join; the DISTINCT vocabulary is orders of
    magnitude smaller than the corpus, so the pair space is
    vocab-bounded, never corpus-bounded.  levenshtein() is exact
    integer edit distance in both engines."""
    docs = t(spark, sf, "documents")
    vocab = docs.select(
        F.explode(tokens(F.col("text"), lowercase=True)).alias("w")
    ).distinct()
    # equi-join on length bucket: the left side sits in its own
    # length, the right side is exploded to every length within the
    # edit bound — a shuffle hash join on `lb`, NOT a theta/nested-
    # loop join, so it scales to real vocabularies
    a = vocab.select(F.col("w").alias("word_a"), F.length("w").alias("lb"))
    b = vocab.select(
        F.col("w").alias("word_b"),
        F.explode(
            F.sequence(
                F.length("w") - _FUZZY_MAXDIST,
                F.length("w") + _FUZZY_MAXDIST,
            )
        ).alias("lb"),
    )
    pairs = a.join(b, "lb").filter(F.col("word_a") < F.col("word_b"))
    dist = F.levenshtein("word_a", "word_b")
    return pairs.filter(dist <= _FUZZY_MAXDIST).select(
        "word_a", "word_b", dist.cast("long").alias("dist")
    )


_KPG_K = 5  # sample size per stratum


@query(
    "sample_k_per_group",
    oracle=f"""
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             row_number() OVER
               (PARTITION BY lang
                ORDER BY {_md5_uniform_sql('samp', 'doc_id')}, doc_id)
               AS rn
      FROM documents)
    WHERE rn <= {_KPG_K}
    """,
)
def sample_k_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic fixed-size per-stratum sample (k=5 per lang):
    rank by the portable md5 uniform with a doc_id tiebreak, keep the
    top k — the eval-set construction primitive (sampleBy gives
    FRACTIONS and engine-seeded RNG; fixed-k + replayable hashing is
    what a reproducible benchmark needs).  One window shuffle on the
    stratum key; the rank never materializes more than k rows per
    stratum downstream."""
    docs = t(spark, sf, "documents")
    w = W.partitionBy("lang").orderBy(
        _md5_uniform("samp", F.col("doc_id")), "doc_id"
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KPG_K)
        .select("lang", "doc_id")
    )


@query(
    "embedding_centroids",
    oracle="""
    SELECT label, i - 1 AS dim,
           CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e7)
                         AS BIGINT)) AS BIGINT) AS sum_e7,
           count(*) AS n
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    GROUP BY label, dim
    """,
)
def embedding_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding centroids in EXACT integer arithmetic:
    each (label, dimension) accumulates floor(x * 1e7) as BIGINT, so
    the sum is associative and partial-aggregate merge order — which
    differs between engines and between runs — is unobservable
    (centroid = sum_e7 / n / 1e7 downstream; a double mean here would
    be merge-order-dependent).  This is the class-prototype builder
    for nearest-centroid classification and the IVF coarse quantizer.
    Scale: posexplode fans each vector to dim rows, but the aggregate
    is map-side combinable down to (labels x dims) rows — the shuffle
    carries centroids, not vectors."""
    emb = t(spark, sf, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    )
    return ex.groupBy("label", "dim").agg(
        F.sum(
            F.floor(F.col("x").cast("double") * 1e7).cast("long")
        ).alias("sum_e7"),
        F.count(F.lit(1)).alias("n"),
    )


_BOILER_NUM, _BOILER_DEN = 7, 100  # boilerplate when df > 7% of corpus


@query(
    "boilerplate_shingle_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ws)),
                      i -> array_to_string(ws[i:i + 1], ' '))) AS s
        FROM toks WHERE len(ws) >= 2)),
    ndocs AS (SELECT count(*) AS n FROM documents),
    df AS (
      SELECT s, {_BOILER_DEN} * count(*) > (SELECT {_BOILER_NUM} * n
                                            FROM ndocs)
               AS is_boiler
      FROM sh GROUP BY s)
    SELECT sh.doc_id,
           count(*) AS n_shingles,
           count(*) FILTER (WHERE df.is_boiler) AS n_boiler,
           CAST(floor(count(*) FILTER (WHERE df.is_boiler)
                      / CAST(count(*) AS DOUBLE) * 1e6) AS BIGINT)
             AS boiler_ratio_e6
    FROM sh JOIN df USING (s)
    GROUP BY sh.doc_id
    """,
)
def boilerplate_shingle_score(spark: SparkSession, sf: str) -> DataFrame:
    """C4/CCNet-style boilerplate detection adapted to span-less docs:
    a word 2-shingle is "boilerplate" when it appears in more than 7%
    of the corpus (relative threshold, so the definition is stable at
    any SF); each doc reports its distinct-shingle count and the
    fraction that are boilerplate (1e-6 ticks, BIGINT-pinned).  A
    curation pipeline drops docs above a ratio cutoff — emitting the
    score, not the verdict, keeps the whole distribution checkable.
    Scale: explode -> ONE hash-aggregate for df (map-side combinable),
    then the boilerplate flag joins BACK to the exploded shingles on
    the shingle string — posting-list-bounded exactly like
    decontaminate_ngram_overlap, with the df aggregate reused for both
    the corpus-size scalar and the flag.  No self-join, no window over
    the corpus."""
    docs = t(spark, sf, "documents")
    sh = docs.select(
        "doc_id", F.explode(shingles(F.col("text"), n=2)).alias("s")
    )
    n_docs = docs.count()  # O(metadata) scalar, not a hot-path collect
    # integer cross-multiplication, not 0.07*n: DuckDB evaluates the
    # bare decimal literal in EXACT DECIMAL arithmetic while the Spark
    # side is a double — an exact-boundary df would flip between
    # engines (ORACLE_PORTABILITY.md, round-4 rules)
    df_flags = sh.groupBy("s").agg(
        (_BOILER_DEN * F.count(F.lit(1)) > _BOILER_NUM * n_docs).alias(
            "is_boiler"
        )
    )
    joined = sh.join(df_flags, "s")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count(F.when(F.col("is_boiler"), 1)).alias("n_boiler"),
        F.floor(
            F.count(F.when(F.col("is_boiler"), 1))
            / F.count(F.lit(1)).cast("double")
            * 1e6
        )
        .cast("long")
        .alias("boiler_ratio_e6"),
    )


_CHUNK = 32  # tokens per training chunk
_STRIDE = 24  # chunk stride (8-token overlap)


@query(
    "doc_chunk_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents)
    SELECT doc_id,
           CAST((i - 1) // {_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(ws[i:i + {_CHUNK} - 1]) AS BIGINT) AS n_tokens,
           md5(array_to_string(ws[i:i + {_CHUNK} - 1], ' ')) AS chunk_hash
    FROM toks, unnest(range(1, len(ws) + 1, {_STRIDE})) AS u(i)
    WHERE len(ws) > 0
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-size training-chunk splitter: 32-token chunks on a
    24-token stride (8-token overlap), the tokenize-and-pack front end
    of every LLM pretraining / RAG-indexing pipeline.  Emits one row
    per chunk with its token count and content hash; the final partial
    chunk is kept (packing handles padding downstream —
    sequence_packing in plans/llm3.py is the next stage).  Scale:
    pure map-side — tokenize, explode the stride positions, slice;
    no shuffle at all, so it pipelines into the pretraining shuffle
    (global_shuffle_shard) without a barrier.  Chunk hashes are md5
    of the space-joined slice, identical on both engines."""
    docs = t(spark, sf, "documents")
    ws = docs.select("doc_id", tokens(F.col("text"), lowercase=True).alias("ws"))
    ws = ws.filter(F.size("ws") > 0)
    starts = ws.select(
        "doc_id",
        "ws",
        F.posexplode(
            F.sequence(F.lit(0), F.size("ws") - 1, F.lit(_STRIDE))
        ).alias("chunk_idx", "start"),
    )
    chunk = F.slice(F.col("ws"), F.col("start") + 1, _CHUNK)
    return starts.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


@query(
    "scd2_user_tier_history",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_id,
             coalesce(CAST(floor(value / 25.0) AS BIGINT), -1) AS tier
      FROM {EVENTS_US} events),
    chg AS (
      SELECT user_id, ts, event_id, tier FROM (
        SELECT *, lag(tier) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM e)
      WHERE prev IS NULL OR prev <> tier)
    SELECT user_id, tier, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to
    FROM chg
    """,
)
def scd2_user_tier_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD type-2 history build from a changelog: collapse each user's
    event stream to the rows where their value tier (floor(value/25))
    actually changes, then stamp half-open [valid_from, valid_to)
    validity windows (open tail = NULL valid_to) — the standard
    dimension-table temporal pattern, fed here by the events stream.
    Ties on ts are broken by event_id so the row order — and therefore
    the collapsed history — is fully deterministic.  Scale: two
    windows over the SAME (user_id) hash partitioning, so one shuffle
    total; state per user is one row lookback, never the event list.
    Timestamps are µs-pinned via EVENTS_US on the oracle side."""
    ev = t(spark, sf, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.coalesce(
            F.floor(F.col("value") / 25.0).cast("long"), F.lit(-1)
        ).alias("tier"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ev.withColumn("prev", F.lag("tier").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("tier")))
        .drop("prev")
    )
    return chg.select(
        "user_id",
        "tier",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )


_HIST_BINS = 20


@query(
    "price_histogram",
    oracle=f"""
    WITH b AS (
      SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
      FROM orders)
    SELECT CAST(least(floor((o_totalprice - lo)
                            / ((hi - lo) / {_HIST_BINS}.0)),
                      {_HIST_BINS - 1}) AS BIGINT) AS bin,
           count(*) AS n
    FROM orders, b
    GROUP BY bin
    """,
)
def price_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width histogram (20 bins over the global [min, max] price
    range) — the profiling op behind range-partition planning and
    data-skew diagnosis.  The max value is clamped into the last bin.
    Scale: the min/max scalar aggregate broadcasts to a map-side bin
    assignment, then ONE 20-group aggregate — two passes over the
    data, no shuffle wider than 20 rows.  Bin edges are computed with
    the identical IEEE double operation order on both engines, so bin
    assignment is bit-deterministic."""
    orders = t(spark, sf, "orders")
    b = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / float(_HIST_BINS)
    binc = F.least(
        F.floor((F.col("o_totalprice") - F.col("lo")) / width),
        F.lit(_HIST_BINS - 1),
    ).cast("long")
    return (
        orders.crossJoin(F.broadcast(b))
        .select(binc.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_BUDGET_TOKENS = 10_000  # corpus-selection token budget
_TB_BUCKETS = 1024  # score-bucket fan-out for the scale-safe cumsum


def _budget_prefix(s: DataFrame, budget: int) -> DataFrame:
    """Scale-safe 'select the (score desc, doc_id) prefix whose
    inclusive token cumsum fits the budget': score-bucketed two-phase
    cumsum — bucket totals (tiny table) + a per-doc window over ONLY
    the single boundary bucket.  Input needs (doc_id, score in (0,1],
    n_tokens); all other columns pass through."""
    # persisted: three consumers (bucket totals, the under-budget
    # wholesale filter, the boundary-bucket window) otherwise each
    # re-derive the scored stream — for token_budget_select that
    # meant three corpus tokenization passes.  The cache is DOC-level
    # (id, score, n_tokens + passthroughs), not the token arrays.
    s = s.withColumn(
        "bkt",
        (F.lit(_TB_BUCKETS - 1) - F.floor(F.col("score") * (_TB_BUCKETS - 1)))
        .cast("long"),
    ).persist()
    btot = s.groupBy("bkt").agg(F.sum("n_tokens").alias("btok"))
    wb = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    bbase = btot.select(
        "bkt",
        F.coalesce(F.sum("btok").over(wb), F.lit(0)).alias("base"),
        "btok",
    )
    joined = s.join(F.broadcast(bbase), "bkt")
    full = joined.filter(F.col("base") + F.col("btok") <= budget)
    boundary = joined.filter(
        (F.col("base") <= budget)
        & (F.col("base") + F.col("btok") > budget)
    )
    wd = W.partitionBy("bkt").orderBy(F.desc("score"), "doc_id")
    part = boundary.withColumn(
        "cum", F.col("base") + F.sum("n_tokens").over(wd)
    ).filter(F.col("cum") <= budget).drop("cum")
    return full.unionByName(part).drop("bkt", "base", "btok")


@query(
    "token_budget_select",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len(list_distinct(ws)) AS BIGINT)
               / CAST(len(ws) AS DOUBLE) AS score,
             CAST(len(ws) AS BIGINT) AS n_tokens
      FROM (SELECT doc_id,
                   list_filter(string_split(lower(text), ' '),
                               x -> x <> '') AS ws
            FROM documents)
      WHERE len(ws) > 0)
    SELECT doc_id, n_tokens,
           CAST(floor(score * 1e6) AS BIGINT) AS score_e6
    FROM (
      SELECT *, CAST(sum(n_tokens) OVER
                     (ORDER BY score DESC, doc_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM s)
    WHERE cum <= {_BUDGET_TOKENS}
    """,
)
def token_budget_select(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget corpus selection: take the highest-quality docs
    (quality = type-token ratio, ties broken by doc_id) until the
    cumulative token count hits the budget — the "best N tokens"
    selection every data-constrained pretraining run performs.

    The oracle is the obvious global-window cumsum; the Spark plan is
    the SCALE-SAFE equivalent (a global ORDER BY window funnels the
    corpus through one task): quantize scores into 1024 buckets,
    aggregate per-bucket token totals, run the cumsum over that TINY
    bucket table (descending score order), then (a) buckets whose
    inclusive total stays under budget are selected wholesale with no
    window at all, and (b) only the single boundary bucket gets a
    per-doc window — partitioned by bucket, so it never sees more
    than ~1/1024 of the corpus.  Same three-level shape as
    operators/prefix_sum.py::keyed_prefix_sum, generalized to an
    ordering key that isn't unique."""
    docs = t(spark, sf, "documents")
    ws = tokens(F.col("text"), lowercase=True)
    s = docs.select(
        "doc_id",
        (
            F.size(F.array_distinct(ws)).cast("long")
            / F.size(ws).cast("double")
        ).alias("score"),
        F.size(ws).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    # score is in (0, 1]: bucket 0 = best.  floor() on the identical
    # double product keeps bucketing deterministic.
    return _budget_prefix(s, _BUDGET_TOKENS).select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("score") * 1e6).cast("long").alias("score_e6"),
    )


_P2_BUDGET = 15_000  # stage-2 pipeline token budget
_P2_SHARDS = 8


@query(
    "curation_pipeline_v2",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g'))))
               AS fp,
             list_filter(string_split(lower(text), ' '), x -> x <> '')
               AS ws
      FROM documents),
    kept AS (
      SELECT doc_id, ws FROM (
        SELECT doc_id, ws,
               min(doc_id) OVER (PARTITION BY fp) AS keeper
        FROM base WHERE len(ws) > 0)
      WHERE doc_id = keeper),
    scored AS (
      SELECT doc_id,
             CAST(len(list_distinct(ws)) AS BIGINT)
               / CAST(len(ws) AS DOUBLE) AS score,
             CAST(len(ws) AS BIGINT) AS n_tokens
      FROM kept),
    selected AS (
      SELECT doc_id, n_tokens, score FROM (
        SELECT *, CAST(sum(n_tokens) OVER
                       (ORDER BY score DESC, doc_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM scored)
      WHERE cum <= {_P2_BUDGET})
    SELECT doc_id, n_tokens,
           CAST((n_tokens - 1) // 24 + 1 AS BIGINT) AS n_chunks,
           CAST(floor({_md5_uniform_sql('shard', 'doc_id')}
                      * {_P2_SHARDS}) AS BIGINT) AS shard
    FROM selected
    """,
)
def curation_pipeline_v2(spark: SparkSession, sf: str) -> DataFrame:
    """Stage-2 end-to-end curation composition — the round-3 flagship
    chaining four operators in ONE lazy plan: exact-dedup keeper
    selection (window over the normalized fingerprint) -> type-token
    quality scoring -> token-budget prefix selection (the bucketed
    two-phase cumsum of token_budget_select, via _budget_prefix) ->
    training-shard assignment (portable md5 uniform) with per-doc
    chunk counts at the 32/24 chunking geometry.  The oracle replays
    the identical chain as CTEs.  Scale: ONE corpus scan feeds
    fingerprint + tokenization together; two keyed shuffles
    (fingerprint window, score-bucket join) and nothing wider — each
    stage's 100 TB story is inherited from the standalone operator it
    composes."""
    docs = t(spark, sf, "documents")
    ws = tokens(F.col("text"), lowercase=True)
    base = docs.select(
        "doc_id",
        norm_fingerprint(F.col("text")).alias("fp"),
        ws.alias("ws"),
    ).filter(F.size("ws") > 0)
    wk = W.partitionBy("fp")
    kept = (
        base.withColumn("keeper", F.min("doc_id").over(wk))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "ws")
    )
    scored = kept.select(
        "doc_id",
        (
            F.size(F.array_distinct("ws")).cast("long")
            / F.size("ws").cast("double")
        ).alias("score"),
        F.size("ws").cast("long").alias("n_tokens"),
    )
    selected = _budget_prefix(scored, _P2_BUDGET)
    shard = F.floor(
        _md5_uniform("shard", F.col("doc_id")) * _P2_SHARDS
    ).cast("long")
    return selected.select(
        "doc_id",
        "n_tokens",
        (F.floor((F.col("n_tokens") - 1) / 24) + 1)
        .cast("long")
        .alias("n_chunks"),
        shard.alias("shard"),
    )


_SG_WINDOW = 2  # skip-gram context radius


@query(
    "skipgram_training_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents),
    pos AS (
      SELECT doc_id, i, ws[i] AS w
      FROM toks, unnest(range(1, len(ws) + 1)) AS u(i)),
    pairs AS (
      SELECT a.w AS center, b.w AS context
      FROM pos a
      JOIN pos b
        ON a.doc_id = b.doc_id
       AND b.i - a.i BETWEEN 1 AND {_SG_WINDOW}
      UNION ALL
      SELECT b.w, a.w
      FROM pos a
      JOIN pos b
        ON a.doc_id = b.doc_id
       AND b.i - a.i BETWEEN 1 AND {_SG_WINDOW}
    )
    SELECT center, context, count(*) AS n
    FROM pairs GROUP BY center, context
    """,
)
def skipgram_training_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Skip-gram (center, context) pair counts with a ±2 window — the
    training-data generator for word2vec-family embedding models.
    Formulated LINEARLY: each token is exploded once per forward
    offset k∈{{1,2}} and equi-joined on (doc_id, position + k), then
    both directions are emitted from the one forward join — never a
    per-doc position theta-join, so cost is O(tokens × window) at any
    corpus size and the join key (doc_id, pos) is as selective as the
    data allows.  The aggregate reduces map-side to the vocab² pair
    space."""
    docs = t(spark, sf, "documents")
    ws = tokens(F.col("text"), lowercase=True)
    # persisted: both sides of the (doc_id, pos+k) adjacency join read
    # the positional stream (the phrase_search_positions call — the
    # cache IS the positional index; one tokenization pass, not three)
    pos = docs.select(
        "doc_id", F.posexplode(ws).alias("i", "w")
    ).persist()
    a = pos.select(
        "doc_id",
        F.col("w").alias("center"),
        F.explode(
            F.array(*[F.col("i") + k for k in range(1, _SG_WINDOW + 1)])
        ).alias("j"),
    )
    b = pos.select("doc_id", F.col("i").alias("j"), F.col("w").alias("context"))
    fwd = a.join(b, ["doc_id", "j"]).select("center", "context")
    both = fwd.unionByName(
        fwd.select(
            F.col("context").alias("center"), F.col("center").alias("context")
        )
    )
    return both.groupBy("center", "context").agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# curation_pipeline_v3 — end-to-end curation with per-stage audit counts
# ---------------------------------------------------------------------------

_P3_BUDGET = 15_000
# integer TTR threshold: keep docs with distinct/total >= 2/5, compared
# as 5*distinct >= 2*total so the boundary is exact on both engines
_P3_Q_NUM, _P3_Q_DEN = 2, 5
_P3_STAGES = (
    "raw",
    "tokenizable",
    "exact_keeper",
    "neardup_keeper",
    "quality",
    "token_budget",
)


def _p3_oracle() -> str:
    from .llm import _PSH_BITS, _PSH_BUCKET_CAP, _PSH_HAM
    from .llm3 import _md5_u32_sql

    h = _md5_u32_sql("S", "w")
    cnt_cols = ",\n             ".join(
        f"sum(({h} // {1 << k}) % 2) AS c{k}" for k in range(_PSH_BITS)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN 2 * c{k} > n THEN {1 << k} ELSE 0 END)"
        for k in range(_PSH_BITS)
    )
    audit_rows = "\n      UNION ALL\n".join(
        f"""      SELECT CAST({k} AS BIGINT) AS stage_id,
             '{name}' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens
      FROM survival WHERE surv >= {k}"""
        for k, name in enumerate(_P3_STAGES)
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp,
             list_filter(string_split(lower(text), ' '), x -> x <> '')
               AS ws
      FROM documents),
    feat AS (
      SELECT doc_id, fp, ws,
             CAST(len(ws) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct
      FROM base),
    k2 AS MATERIALIZED (
      SELECT doc_id, ws, n_tokens, n_distinct FROM (
        SELECT doc_id, ws, n_tokens, n_distinct,
               min(doc_id) OVER (PARTITION BY fp) AS keeper
        FROM feat WHERE n_tokens > 0)
      WHERE doc_id = keeper),
    words AS (
      SELECT doc_id, unnest(list_distinct(ws)) AS w FROM k2),
    agg AS (
      SELECT doc_id, count(*) AS n,
             {cnt_cols}
      FROM words GROUP BY doc_id),
    sig AS MATERIALIZED (
      SELECT doc_id, CAST({sig_terms} AS BIGINT) AS sig FROM agg),
    blocks AS (
      SELECT doc_id, 0 AS blk, sig % 256 AS val FROM sig
      UNION ALL
      SELECT doc_id, 1 AS blk, sig // 256 AS val FROM sig),
    capped AS (
      SELECT doc_id, blk, val FROM blocks
      QUALIFY count(*) OVER (PARTITION BY blk, val) <= {_PSH_BUCKET_CAP}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id),
    drops AS (
      SELECT DISTINCT doc_b AS doc_id
      FROM cand
      JOIN sig x ON x.doc_id = doc_a
      JOIN sig y ON y.doc_id = doc_b
      WHERE bit_count(xor(x.sig, y.sig)) <= {_PSH_HAM}),
    k3 AS MATERIALIZED (
      SELECT k2.* FROM k2
      WHERE NOT EXISTS (SELECT 1 FROM drops d WHERE d.doc_id = k2.doc_id)),
    k4 AS (
      SELECT doc_id, n_tokens,
             n_distinct / CAST(n_tokens AS DOUBLE) AS score
      FROM k3
      WHERE {_P3_Q_DEN} * n_distinct >= {_P3_Q_NUM} * n_tokens),
    sel AS (
      SELECT doc_id FROM (
        SELECT doc_id, CAST(sum(n_tokens) OVER
                            (ORDER BY score DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM k4)
      WHERE cum <= {_P3_BUDGET}),
    survival AS MATERIALIZED (
      SELECT f.doc_id, f.n_tokens,
             CASE
               WHEN f.n_tokens = 0 THEN 0
               WHEN k2.doc_id IS NULL THEN 1
               WHEN k3.doc_id IS NULL THEN 2
               WHEN k4.doc_id IS NULL THEN 3
               WHEN sel.doc_id IS NULL THEN 4
               ELSE 5
             END AS surv
      FROM feat f
      LEFT JOIN k2 ON k2.doc_id = f.doc_id
      LEFT JOIN k3 ON k3.doc_id = f.doc_id
      LEFT JOIN k4 ON k4.doc_id = f.doc_id
      LEFT JOIN sel ON sel.doc_id = f.doc_id),
    audit AS (
{audit_rows}
    )
    SELECT stage_id, stage, n_docs, n_tokens FROM audit
    """


@query("curation_pipeline_v3", oracle=_p3_oracle())
def curation_pipeline_v3(spark: SparkSession, sf: str) -> DataFrame:
    """Round-4 flagship: the full curation chain — tokenizability
    screen -> exact-dedup keeper (normalized-fingerprint window) ->
    SimHash near-dup keeper (drop any doc with a smaller near-dup
    partner, the standard greedy LSH dedup rule) -> integer-exact
    type-token quality gate (5·distinct >= 2·total, so the boundary
    can't float) -> token-budget prefix selection — emitting the
    PER-STAGE AUDIT COUNTS (docs + tokens surviving each stage) that
    a 100 TB curation operator actually watches: every silent
    stage-collapse (dedup eating the corpus, quality gate passing
    everything) is visible as a row.

    Scale: each doc is labeled with its LAST SURVIVING STAGE in one
    labeled frame (monotone stage set => the label is a max), so the
    audit is ONE tiny aggregate over stage ids — NOT one re-execution
    of the chain per stage; with N stages that is the difference
    between 1 and N corpus scans.  The stage machinery reuses the
    standalone operators' scale paths: fingerprint window (one keyed
    shuffle), psh_pairs' capped pigeonhole blocking, and the
    token-budget selection joined back as a flag instead of a filter.
    Cites: reference master.py:99-167 (the one-shot batch job this
    operational chain replaces)."""
    from .llm import psh_pairs

    docs = t(spark, sf, "documents")
    ws = tokens(F.col("text"), lowercase=True)
    feat = docs.select(
        "doc_id",
        norm_fingerprint(F.col("text")).alias("fp"),
        ws.alias("ws"),
        F.size(ws).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct"),
    ).persist()  # tokenized corpus: audit spine + the k-chain both read it
    tok = feat.filter(F.col("n_tokens") > 0)
    wk = W.partitionBy("fp")
    k2 = (
        tok.withColumn("keeper", F.min("doc_id").over(wk))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "ws", "n_tokens", "n_distinct")
        .persist()  # exact-dedup keepers: psh_pairs self-join ×2 + k3 + flag
    )
    drops = (
        psh_pairs(k2.select("doc_id", "ws"))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    # near-dup survivors: without this persist the psh_pairs blocking
    # re-executes once per downstream branch (f3 flag, quality gate,
    # budget prefix — measured 3× at sf0.1, 4.4 s → 2.0 s with the
    # three persists; SCALE.md §10d).  At 100 TB these are
    # MEMORY_AND_DISK caches of ≤ corpus-sized frames — the standard
    # cache-vs-recompute call for a 5-consumer DAG node.
    k3 = k2.join(drops, "doc_id", "left_anti").persist()
    k4 = k3.filter(
        _P3_Q_DEN * F.col("n_distinct") >= _P3_Q_NUM * F.col("n_tokens")
    ).select(
        "doc_id",
        "n_tokens",
        (F.col("n_distinct") / F.col("n_tokens").cast("double")).alias(
            "score"
        ),
    )
    sel = _budget_prefix(k4, _P3_BUDGET).select("doc_id")

    flag = lambda df, name: df.select(  # noqa: E731
        "doc_id", F.lit(True).alias(name)
    )
    surv = (
        feat.select("doc_id", "n_tokens")
        .join(flag(k2, "f2"), "doc_id", "left")
        .join(flag(k3, "f3"), "doc_id", "left")
        .join(flag(k4, "f4"), "doc_id", "left")
        .join(flag(sel, "f5"), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.when(F.col("n_tokens") == 0, 0)
            .when(F.col("f2").isNull(), 1)
            .when(F.col("f3").isNull(), 2)
            .when(F.col("f4").isNull(), 3)
            .when(F.col("f5").isNull(), 4)
            .otherwise(5)
            .alias("surv"),
        )
    )
    per_stage = surv.groupBy("surv").agg(
        F.count(F.lit(1)).alias("d"), F.sum("n_tokens").alias("tk")
    )
    stages = F.array(*[F.lit(s) for s in _P3_STAGES])
    dim = spark.range(len(_P3_STAGES)).select(
        F.col("id").cast("long").alias("stage_id"),
        F.element_at(stages, (F.col("id") + 1).cast("int")).alias("stage"),
    )
    # suffix-cumulative: stage k counts every doc whose survival >= k.
    # 6x7 rows — broadcast the dim side, aggregate over <= 42 rows.
    # LEFT join (ADVICE r04): a stage that drops everything (budget
    # selects nothing, a gate collapses the corpus) must still emit
    # its (stage, 0, 0) audit row — that collapse is exactly what the
    # audit exists to surface.
    return (
        dim.join(per_stage, per_stage.surv >= dim.stage_id, "left")
        .groupBy("stage_id", "stage")
        .agg(
            F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("tk"), F.lit(0)).cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# curation_pipeline_v4 — the four-modality curation chain (VERDICT r12 #3)
# ---------------------------------------------------------------------------

_P4_BUDGET = 15_000
_P4_STAGES = (
    "raw",
    "tokenizable",
    "exact_keeper",
    "minhash_keeper",
    "image_keeper",
    "audio_keeper",
    "video_keeper",
    "quality",
    "token_budget",
)


def _p4_stages() -> list[tuple[str, str]]:
    """The v4 oracle as an ordered list of (name, SELECT body) stages;
    _p4_oracle renders each as one MATERIALIZED CTE, so DuckDB
    computes every stage once.

    Modality signature stages read ``documents`` directly — a
    per-asset signature is static, so joining the GLOBAL signature
    table onto the survivor set yields the same keeper minima as
    signaturing only survivors — and the audit tail aggregates
    ``survival`` exactly once (per_stage x 9-row dim theta-join, the
    Spark plan's own shape).  Every stage body is a self-contained
    SELECT (nested WITH allowed).
    """
    from .llm import _PMH_BANDS, _PMH_N, _PMH_TAU_E6
    from .llm3 import _md5_u32_sql

    h = _md5_u32_sql("J", "s")
    sig_cols = ",\n             ".join(
        f"min({_md5_u32_sql(str(i), 's')}) AS m{i}" for i in range(_PMH_N)
    )
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {b} AS band, "
        f"concat(CAST(m{2 * b} AS VARCHAR), ':', "
        f"CAST(m{2 * b + 1} AS VARCHAR)) AS bucket FROM msig"
        for b in range(_PMH_BANDS)
    )
    jac = (
        "CAST(floor(len(list_intersect(x.hs, y.hs))"
        " / CAST(len(x.hs) + len(y.hs)"
        " - len(list_intersect(x.hs, y.hs)) AS DOUBLE)"
        " * 1e6) AS BIGINT)"
    )
    g8 = ", ".join(str(i) for i in range(8))
    dim_rows = ", ".join(
        f"({k}, '{name}')" for k, name in enumerate(_P4_STAGES)
    )
    return [
        ("feat", f"""
      WITH base AS (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, ' +', ' ', 'g'))))
                 AS fp,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                 AS ws
        FROM documents)
      SELECT doc_id, fp, ws,
             CAST(len(ws) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct
      FROM base"""),
        ("k2", """
      SELECT doc_id, ws, n_tokens, n_distinct FROM (
        SELECT doc_id, ws, n_tokens, n_distinct,
               min(doc_id) OVER (PARTITION BY fp) AS keeper
        FROM feat WHERE n_tokens > 0)
      WHERE doc_id = keeper"""),
        ("msig", f"""
      WITH sh AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[i:i + 2], ' '))) AS s
          FROM k2 WHERE len(ws) >= 3))
      SELECT doc_id, list(DISTINCT {h}) AS hs,
             {sig_cols}
      FROM sh GROUP BY doc_id"""),
        ("k3", f"""
      WITH mbands AS (
        {band_selects}),
      mcand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM mbands a JOIN mbands b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id),
      mdrops AS (
        SELECT DISTINCT doc_b AS doc_id FROM mcand
        JOIN msig x ON x.doc_id = doc_a
        JOIN msig y ON y.doc_id = doc_b
        WHERE {jac} >= {_PMH_TAU_E6})
      SELECT k2.* FROM k2
      WHERE NOT EXISTS (SELECT 1 FROM mdrops d WHERE d.doc_id = k2.doc_id)"""),
        ("ibits", f"""
      WITH ip AS (
        SELECT doc_id AS asset_id,
               8 + (doc_id % 24) AS w, 8 + (doc_id % 16) AS h,
               CASE WHEN doc_id % 3 = 1 THEN 3
                    WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS c,
               doc_id % 256 AS d
        FROM documents WHERE doc_id % 3 < 2),
      igcell AS (
        SELECT asset_id, u.y * 8 + v.x AS idx,
               (d + (((u.y * h) // 8) * w + (v.x * w) // 8) * c) % 256
                 AS gv
        FROM ip, unnest([{g8}]) AS u(y), unnest([{g8}]) AS v(x)),
      itot AS (
        SELECT asset_id, sum(gv) AS total FROM igcell GROUP BY asset_id),
      ihalves AS (
        SELECT igcell.asset_id,
               sum(CASE WHEN gv * 64 > total AND idx < 32
                   THEN 1::BIGINT << idx ELSE 0 END) AS lo,
               sum(CASE WHEN gv * 64 > total AND idx >= 32
                   THEN 1::BIGINT << (idx - 32) ELSE 0 END) AS hi
        FROM igcell JOIN itot USING (asset_id) GROUP BY igcell.asset_id)
      SELECT asset_id,
             CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                  THEN u - 18446744073709551616::HUGEINT ELSE u END
                  AS BIGINT) AS iph
      FROM (SELECT asset_id,
                   lo::HUGEINT + hi::HUGEINT * 4294967296 AS u
            FROM ihalves)"""),
        ("k4", """
      SELECT doc_id, ws, n_tokens, n_distinct FROM (
        SELECT k3.*, ibits.iph,
               min(k3.doc_id) OVER (PARTITION BY ibits.iph) AS ikeep
        FROM k3 LEFT JOIN ibits ON ibits.asset_id = k3.doc_id)
      WHERE iph IS NULL OR doc_id = ikeep"""),
        ("abits", """
      WITH ap AS (
        SELECT doc_id AS asset_id, 1 + (doc_id % 2) AS nc,
               64 + (doc_id % 64) AS nf, doc_id % 256 AS d
        FROM documents WHERE doc_id % 3 = 2),
      asamp AS (
        SELECT asset_id, nf, fx.f,
               ((d + 2 * fx.f * nc) % 256)
               + 256 * ((d + 2 * fx.f * nc + 1) % 256)
               - CASE WHEN (d + 2 * fx.f * nc + 1) % 256 >= 128
                      THEN 65536 ELSE 0 END AS s
        FROM ap, unnest(range(0, nf)) AS fx(f)),
      aeseg AS (
        SELECT asset_id, (f * 8) // nf AS seg,
               sum(abs(s)) AS es, count(*) AS en
        FROM asamp GROUP BY asset_id, (f * 8) // nf),
      aetot AS (
        SELECT asset_id, sum(es) AS ts, sum(en) AS tn
        FROM aeseg GROUP BY asset_id),
      aebits AS (
        SELECT aeseg.asset_id,
               sum(CASE WHEN es * tn > ts * en THEN 1 << seg ELSE 0 END)
                 AS eb
        FROM aeseg JOIN aetot USING (asset_id) GROUP BY aeseg.asset_id),
      across AS (
        SELECT a.asset_id, a.nf, a.f,
               CASE WHEN (a.s >= 0) <> (b.s >= 0) THEN 1 ELSE 0 END AS c
        FROM asamp a JOIN asamp b
          ON b.asset_id = a.asset_id AND b.f = a.f + 1),
      azseg AS (
        SELECT asset_id, (f * 8) // (nf - 1) AS seg,
               sum(c) AS zs, count(*) AS zn
        FROM across GROUP BY asset_id, (f * 8) // (nf - 1)),
      aztot AS (
        SELECT asset_id, sum(zs) AS tzs, sum(zn) AS tzn
        FROM azseg GROUP BY asset_id),
      azbits AS (
        SELECT azseg.asset_id,
               sum(CASE WHEN zs * tzn > tzs * zn
                   THEN 1 << (8 + seg) ELSE 0 END) AS zb
        FROM azseg JOIN aztot USING (asset_id) GROUP BY azseg.asset_id)
      SELECT asset_id, eb + zb AS aph
      FROM aebits JOIN azbits USING (asset_id)"""),
        ("k5", """
      SELECT doc_id, ws, n_tokens, n_distinct FROM (
        SELECT k4.*, abits.aph,
               min(k4.doc_id) OVER (PARTITION BY abits.aph) AS akeep
        FROM k4 LEFT JOIN abits ON abits.asset_id = k4.doc_id)
      WHERE aph IS NULL OR doc_id = akeep"""),
        ("vbits", """
      WITH vpp AS (
        SELECT doc_id AS asset_id,
               8 + (doc_id % 24) AS w, 8 + (doc_id % 16) AS h,
               2 + (doc_id % 5) AS nf, doc_id % 256 AS d
        FROM documents),
      vfcell AS (
        SELECT asset_id, nf, fx.f, u.y * 4 + v.x AS idx,
               ((d + 37 * fx.f) % 256
                + (((u.y * h) // 4) * w + (v.x * w) // 4) * 3) % 256 AS gv
        FROM vpp, unnest(range(0, nf)) AS fx(f),
             unnest([0, 1, 2, 3]) AS u(y), unnest([0, 1, 2, 3]) AS v(x)),
      vftot AS (
        SELECT asset_id, f, sum(gv) AS total
        FROM vfcell GROUP BY asset_id, f),
      vcnt AS (
        SELECT vfcell.asset_id, idx, max(vfcell.nf) AS nf,
               sum(CASE WHEN gv * 16 > total THEN 1 ELSE 0 END) AS c
        FROM vfcell JOIN vftot
          ON vftot.asset_id = vfcell.asset_id AND vftot.f = vfcell.f
        GROUP BY vfcell.asset_id, idx)
      SELECT asset_id,
             sum(CASE WHEN c * 2 > nf THEN 1 << idx ELSE 0 END) AS vph
      FROM vcnt GROUP BY asset_id"""),
        ("k6", """
      SELECT doc_id, n_tokens, n_distinct FROM (
        SELECT k5.*, vbits.vph,
               min(k5.doc_id) OVER (PARTITION BY vbits.vph) AS vkeep
        FROM k5 LEFT JOIN vbits ON vbits.asset_id = k5.doc_id)
      WHERE vph IS NULL OR doc_id = vkeep"""),
        ("k7", f"""
      SELECT doc_id, n_tokens,
             n_distinct / CAST(n_tokens AS DOUBLE) AS score
      FROM k6
      WHERE {_P3_Q_DEN} * n_distinct >= {_P3_Q_NUM} * n_tokens"""),
        ("sel", f"""
      SELECT doc_id FROM (
        SELECT doc_id, CAST(sum(n_tokens) OVER
                            (ORDER BY score DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM k7)
      WHERE cum <= {_P4_BUDGET}"""),
        ("survival", """
      SELECT f.doc_id, f.n_tokens,
             CASE
               WHEN f.n_tokens = 0 THEN 0
               WHEN k2.doc_id IS NULL THEN 1
               WHEN k3.doc_id IS NULL THEN 2
               WHEN k4.doc_id IS NULL THEN 3
               WHEN k5.doc_id IS NULL THEN 4
               WHEN k6.doc_id IS NULL THEN 5
               WHEN k7.doc_id IS NULL THEN 6
               WHEN sel.doc_id IS NULL THEN 7
               ELSE 8
             END AS surv
      FROM feat f
      LEFT JOIN k2 ON k2.doc_id = f.doc_id
      LEFT JOIN k3 ON k3.doc_id = f.doc_id
      LEFT JOIN k4 ON k4.doc_id = f.doc_id
      LEFT JOIN k5 ON k5.doc_id = f.doc_id
      LEFT JOIN k6 ON k6.doc_id = f.doc_id
      LEFT JOIN k7 ON k7.doc_id = f.doc_id
      LEFT JOIN sel ON sel.doc_id = f.doc_id"""),
        ("__final__", f"""
      WITH per_stage AS (
        SELECT surv, count(*) AS d, sum(n_tokens) AS tk
        FROM survival GROUP BY surv),
      dim AS (SELECT * FROM (VALUES {dim_rows}) AS v(stage_id, stage))
      SELECT CAST(dim.stage_id AS BIGINT) AS stage_id, dim.stage,
             CAST(coalesce(sum(d), 0) AS BIGINT) AS n_docs,
             CAST(coalesce(sum(tk), 0) AS BIGINT) AS n_tokens
      FROM dim LEFT JOIN per_stage ON per_stage.surv >= dim.stage_id
      GROUP BY dim.stage_id, dim.stage"""),
    ]


def _p4_oracle() -> str:
    stages = _p4_stages()
    ctes = ",\n    ".join(
        f"{name} AS MATERIALIZED ({body})" for name, body in stages[:-1]
    )
    # the final body opens its own WITH — legal as a subquery, not
    # directly after the outer CTE list
    return f"\n    WITH {ctes}\n    SELECT * FROM ({stages[-1][1]})\n    "


@query(
    "curation_pipeline_v4",
    oracle=_p4_oracle(),
)
def curation_pipeline_v4(spark: SparkSession, sf: str) -> DataFrame:
    """The four-modality curation chain (VERDICT r12 #3) — the
    end-to-end shape of a multimodal training-data pipeline now that
    every modality carries a near-dup primitive: tokenizability
    screen -> text exact-dedup keeper -> text MinHash near-dup keeper
    (verified-Jaccard pairs, drop the larger id — the
    dedup_minhash_portable machinery over the exact keepers) ->
    image phash64 keeper -> audio fingerprint keeper -> video
    temporal-hash keeper (each: among the docs still alive, keep the
    min doc_id per identical signature; docs without that modality's
    asset pass through) -> integer-exact TTR quality gate ->
    token-budget prefix — emitting the v3-style PER-STAGE AUDIT
    COUNTS (docs + tokens surviving each stage).

    Scale: the audit is ONE aggregate over a last-surviving-stage
    label (never a per-stage corpus re-scan); the modality decodes run
    over the EXACT-DEDUP survivors (k2 — a superset of each keeper's
    live set, per-asset pure functions, so keeper bookkeeping is
    unchanged; opt r14 overlaps the three panels on driver threads)
    as per-asset Arrow-batched mapInPandas with no shuffle; signature
    keepers are partial-aggregating groupBys over signature rows only
    (no NULL-modality window partition); the budget prefix is the
    score-bucketed two-phase cumsum.

    Optimization r13 — plan-size truncation: every stage boundary is
    a ``localCheckpoint(eager=False)`` rather than a bare persist.
    Each keeper stage references its predecessor twice (survivor set
    + signature-builder input) and the audit tail references every
    stage once more, so the ANALYZED tree without truncation holds an
    exponentially-growing number of copies of the base corpus scan —
    measured at sf0.1, driver planning alone dominated the query
    (guide §3.3: "very wide joins produce enormous plans; planning
    time itself can become the bottleneck — materialising an
    intermediate truncates the plan").  The k3..k6 checkpoints
    materialize doc-id-level frames (24 B/row); feat and k2 DO carry
    the text payload until msig consumes it (ADVICE r13 — at cluster
    scale those two checkpoints hold one corpus copy each in executor
    storage; the alternative, re-scanning the corpus to re-attach
    text for the minhash stage, was judged the worse trade).  Each
    invocation builds fresh checkpoints, so nothing is reused across
    runs.  Trade-off at cluster scale: localCheckpoint truncates
    lineage non-fault-tolerantly (an executor loss fails the job
    rather than recomputing) — the standard price of plan truncation
    without a reliable checkpoint dir."""
    from .llm import (
        _PMH_TAU_E6,
        _pmh_candidates,
        _pmh_signatures,
    )
    from .mmq import (
        audiofp_signatures,
        phash_signatures,
        videofp_signatures,
    )

    docs = t(spark, sf, "documents")
    ws = tokens(F.col("text"), lowercase=True)
    feat = docs.select(
        "doc_id",
        "text",
        norm_fingerprint(F.col("text")).alias("fp"),
        F.size(ws).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct"),
    ).localCheckpoint(eager=False)
    tok = feat.filter(F.col("n_tokens") > 0)
    wk = W.partitionBy("fp")
    k2 = (
        tok.withColumn("keeper", F.min("doc_id").over(wk))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "text", "n_tokens", "n_distinct")
        .localCheckpoint(eager=False)
    )
    # --- opt r14 (guide §2.6): the three modality signature tables
    # are built over k2 — a superset of every keeper's live set — and
    # their decode panels (the expensive Python stages of this query)
    # materialize CONCURRENTLY, from a driver thread pool, WHILE the
    # main thread builds the minhash keeper chain (msig/mdrops/k3).
    # Correctness is unchanged: each sig builder is a per-asset pure
    # function (decode + threshold of one asset's bytes, no cross-doc
    # statistics), so a signature row for a doc a keeper later drops
    # is identical to what the old per-stage build produced — and
    # each keeper's bookkeeping below SEMI-JOINS the sig table to its
    # own live set before aggregating, so keep-id selection (min
    # doc_id per signature among THAT stage's survivors) is exactly
    # as before.  Cost trade at scale: docs the minhash/image/audio
    # keepers drop still get decoded (bounded by the near-dup rate
    # among exact-deduped survivors); win: the decode wall-clock
    # overlaps the minhash chain instead of running strictly
    # sequentially inside three keeper-stage checkpoints.
    # Cache lifetime (ADVICE r13): the sig2 persists are per-invocation
    # (k2 is a fresh checkpoint leaf each call, so they are never
    # plan-equal across runs) and deliberately NOT unpersisted here —
    # the keeper drop lists in the RETURNED plan still read them at
    # execution time.  Session-lifetime accumulation is bounded by the
    # callers: bench.py's cold round clearCache()s, and long sweeps
    # call session.release_caches between cohorts.
    k2_ids = k2.select("doc_id")
    sig2 = {
        col: s.select(
            F.col("asset_id").alias("doc_id"), F.col("ph").alias(col)
        ).persist()
        for col, s in (
            ("iph", phash_signatures(spark, sf, grid=8, docs=k2_ids)),
            ("aph", audiofp_signatures(spark, sf, docs=k2_ids)),
            ("vph", videofp_signatures(spark, sf, docs=k2_ids)),
        )
    }

    def _mat(col: str) -> None:
        # job descriptions are thread-local (guide §2.6), so each
        # concurrent decode panel is labelled in the UI
        spark.sparkContext.setJobDescription(f"v4: {col} signature panel")
        sig2[col].write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobDescription(None)

    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(
        max_workers=len(sig2), thread_name_prefix="v4-panel"
    )
    # the finally joins every panel thread on any exit, so a failed
    # panel (or a failure on the main thread) never leaves the other
    # panels submitting jobs after the query has unwound
    try:
        panels = [pool.submit(_mat, col) for col in sig2]

        # spread before the per-shingle 9x-md5 explode: AQE coalesces
        # k2's tiny keeper shuffle to ONE partition at bench scale,
        # which serialized the signature map side on a single core
        # (the probe is cheap — k2 is a checkpoint leaf)
        msig = _pmh_signatures(
            spread(k2.select("doc_id", "text"))
        ).localCheckpoint(eager=False)
        cand = _pmh_candidates(msig, persist_bands=False)
        mdrops = (
            pair_sides(
                cand, msig.select("doc_id", "hs"), "doc_id", "doc_a", "doc_b"
            )
            .select("doc_b", jaccard_e6("hs_a", "hs_b").alias("jac_e6"))
            .filter(F.col("jac_e6") >= _PMH_TAU_E6)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        # ``text`` is consumed by msig above and never again —
        # dropping it here keeps the document payload out of the three
        # keeper-stage exchanges below (guide §2.3: project before the
        # exchange)
        k3 = (
            k2.join(mdrops, "doc_id", "left_anti")
            .select("doc_id", "n_tokens", "n_distinct")
            .localCheckpoint(eager=False)
        )

        # join the decode panels: every sig2 frame is cached past
        # here, so the keeper bookkeeping below never touches a decode
        # again
        for p in panels:
            p.result()
    finally:
        pool.shutdown(wait=True, cancel_futures=True)

    def _sig_keeper(kin: DataFrame, s2: DataFrame, col: str) -> DataFrame:
        """Among kin's docs: keep min doc_id per identical signature;
        docs without a signature (no asset in this modality) pass.

        r13 restructure (same output multiset): the keeper is a
        partial-aggregating groupBy over SIGNATURE rows only (no
        NULL-modality window partition — guide §2.5 null hot key; no
        payload in the shuffle — §2.3), non-keeper duplicates become
        a doc_id drop list, survivors one left_anti join.  r14: the
        sig table arrives pre-built over k2 and cached, so the semi
        join restricts it to THIS stage's live set — identical
        keep-id aggregate, zero decode work in the keeper itself."""
        live = s2.join(kin.select("doc_id"), "doc_id", "left_semi")
        keep = live.groupBy(col).agg(F.min("doc_id").alias("keep_id"))
        drops = (
            live.join(keep, col)
            .filter(F.col("doc_id") != F.col("keep_id"))
            .select("doc_id")
        )
        return kin.join(drops, "doc_id", "left_anti")

    k4 = _sig_keeper(k3, sig2["iph"], "iph").localCheckpoint(eager=False)
    k5 = _sig_keeper(k4, sig2["aph"], "aph").localCheckpoint(eager=False)
    k6 = _sig_keeper(k5, sig2["vph"], "vph").localCheckpoint(eager=False)
    k7 = k6.filter(
        _P3_Q_DEN * F.col("n_distinct") >= _P3_Q_NUM * F.col("n_tokens")
    ).select(
        "doc_id",
        "n_tokens",
        (F.col("n_distinct") / F.col("n_tokens").cast("double")).alias(
            "score"
        ),
    )
    sel = _budget_prefix(k7, _P4_BUDGET).select("doc_id")

    flag = lambda df, name: df.select(  # noqa: E731
        "doc_id", F.lit(True).alias(name)
    )
    surv = (
        feat.select("doc_id", "n_tokens")
        .join(flag(k2, "f2"), "doc_id", "left")
        .join(flag(k3, "f3"), "doc_id", "left")
        .join(flag(k4, "f4"), "doc_id", "left")
        .join(flag(k5, "f5"), "doc_id", "left")
        .join(flag(k6, "f6"), "doc_id", "left")
        .join(flag(k7, "f7"), "doc_id", "left")
        .join(flag(sel, "f8"), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.when(F.col("n_tokens") == 0, 0)
            .when(F.col("f2").isNull(), 1)
            .when(F.col("f3").isNull(), 2)
            .when(F.col("f4").isNull(), 3)
            .when(F.col("f5").isNull(), 4)
            .when(F.col("f6").isNull(), 5)
            .when(F.col("f7").isNull(), 6)
            .when(F.col("f8").isNull(), 7)
            .otherwise(8)
            .alias("surv"),
        )
    )
    per_stage = surv.groupBy("surv").agg(
        F.count(F.lit(1)).alias("d"), F.sum("n_tokens").alias("tk")
    )
    stages = F.array(*[F.lit(s) for s in _P4_STAGES])
    dim = spark.range(len(_P4_STAGES)).select(
        F.col("id").cast("long").alias("stage_id"),
        F.element_at(stages, (F.col("id") + 1).cast("int")).alias("stage"),
    )
    return (
        dim.join(per_stage, per_stage.surv >= dim.stage_id, "left")
        .groupBy("stage_id", "stage")
        .agg(
            F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("tk"), F.lit(0)).cast("long").alias("n_tokens"),
        )
    )
