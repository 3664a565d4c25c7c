"""LLM-training-data pipeline operators (SURVEY.md §7.6 / north star):
deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine), similarity search (brute-force + LSH-bucketed ANN),
and embedding statistics.

Scale notes baked into each operator:
- exact dedup = hash-groupBy (one shuffle on the fingerprint);
- near-dup families avoid the O(n^2) cross join via candidate
  generation (LSH band buckets / blocking keys), then verify exact
  similarity only on candidates;
- brute-force cosine top-k broadcasts the (small) query set over the
  corpus — no shuffle of the big side; the LSH variant buckets both
  sides so even the query set can be large.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.similarity import hamming, jaccard, jaccard_e6, pair_cosine
from ..functions.text import (
    norm_fingerprint,
    shingles as _shingles,
    tokens as _tokens,
)
from ..functions.vector import (  # noqa: F401
    cosine as _cosine,
    dot as _dot,
    l2_norm as _norm,
)
from ..operators.index_store import cached_index, merge_index
from ..operators.simjoin import band_buckets, bucket_pairs, pair_sides
from .core import query, spread, t

# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source,
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fingerprint
      FROM documents),
    keep AS (
      SELECT fingerprint, min(doc_id) AS keeper, count(*) AS n_copies
      FROM fp GROUP BY fingerprint)
    SELECT f.doc_id, k.keeper, k.n_copies,
           CAST(f.doc_id = k.keeper AS BOOLEAN) AS is_kept
    FROM fp f JOIN keep k USING (fingerprint)
    """,
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: window over the fingerprint — ONE corpus scan and
    one shuffle (the agg+join formulation scans and fingerprints the
    corpus twice; at 100 TB the second scan is the dominant cost)."""
    docs = t(spark, sf, "documents").select(
        "doc_id", norm_fingerprint("text").alias("fingerprint")
    )
    w = W.partitionBy("fingerprint")
    return docs.select(
        "doc_id",
        F.min("doc_id").over(w).alias("keeper"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    ).withColumn("is_kept", F.col("doc_id") == F.col("keeper"))


_SHINGLE_DF_CAP = 64  # drop shingles present in > this many docs of a block


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id, lang, source,
             list_distinct(list_transform(
               range(1, greatest(len(list_filter(str_split(lower(text),' '), x -> x <> '')) - 2, 0) + 1),
               i -> array_to_string(list_filter(str_split(lower(text),' '), x -> x <> '')[i:i+2], ' ')
             )) AS shingles
      FROM documents),
    ex AS (
      SELECT doc_id, lang, source, unnest(shingles) AS shingle FROM sh),
    capped AS (
      SELECT * FROM (
        SELECT doc_id, lang, source, shingle,
               count(*) OVER (PARTITION BY lang, source, shingle) AS df
        FROM ex)
      WHERE df <= 64),
    n AS (
      SELECT doc_id, lang, source, count(*) AS n_sh
      FROM capped GROUP BY doc_id, lang, source),
    inter AS (
      SELECT a.lang, a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS shared
      FROM capped a JOIN capped b
        ON a.lang = b.lang AND a.source = b.source
       AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.lang, a.source, a.doc_id, b.doc_id)
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.shared AS DOUBLE)
                 / (na.n_sh + nb.n_sh - i.shared), 4) AS jaccard
    FROM inter i
    JOIN n na ON na.doc_id = i.doc_a AND na.lang = i.lang AND na.source = i.source
    JOIN n nb ON nb.doc_id = i.doc_b AND nb.lang = i.lang AND nb.source = i.source
    WHERE CAST(i.shared AS DOUBLE) / (na.n_sh + nb.n_sh - i.shared) >= 0.12
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup by 3-gram-shingle Jaccard >= 0.12 with (lang, source)
    blocking AND a shingle document-frequency cap: shingles appearing
    in more than _SHINGLE_DF_CAP docs of a block (stop-word shingles)
    are dropped before the pair join, bounding the per-shingle join
    fan-out — without the cap a single hot shingle emits O(df^2) pair
    rows, the classic scale-killer of shared-token similarity joins.
    Jaccard is computed over the capped shingle sets (standard near-dup
    practice: ubiquitous shingles carry no dedup signal).  At 100 TB
    you'd block on MinHash bands instead — see dedup_minhash_lsh."""
    sh = t(spark, sf, "documents").select(
        "doc_id", "lang", "source", _shingles("text", 3).alias("shingles")
    ).filter(F.size("shingles") > 0)
    # similarity-join shape: explode shingles, equi-join on
    # (block, shingle) to count shared shingles per pair — no pairwise
    # array_intersect, no block-cartesian materialization
    ex = sh.select(
        "lang",
        "source",
        "doc_id",
        F.explode("shingles").alias("shingle"),
    )
    # df-cap via a window over the SAME key the pair join shuffles on
    # (lang, source, shingle) — the exchange is reused by the join, so
    # the cap adds no extra shuffle of the exploded stream; per-doc
    # sizes are then recounted over the capped sets
    capped = (
        ex.withColumn(
            "df", F.count(F.lit(1)).over(W.partitionBy("lang", "source", "shingle"))
        )
        .filter(F.col("df") <= _SHINGLE_DF_CAP)
        .drop("df")
        .withColumn(
            "n_sh",
            F.count(F.lit(1)).over(W.partitionBy("lang", "source", "doc_id")),
        )
    )
    a = capped.select(
        "lang",
        "source",
        "shingle",
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = capped.select(
        "lang",
        "source",
        "shingle",
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("n_b"),
    )
    shared = (
        a.join(b, ["lang", "source", "shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    )
    return (
        shared.filter(jac >= 0.12)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


_MINHASH_SEEDS = tuple(range(16))
_BANDS = 4  # 16 hashes -> 4 bands of 4


def minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """Persisted minhash signature index (doc_id, hs, m0..m15) — the
    build half of dedup_minhash_lsh, exposed so diagnostics
    (tools/pair_growth.py) measure the exact production recipe."""

    def _build_signatures() -> DataFrame:
        sh = t(spark, sf, "documents").select(
            "doc_id", _shingles("text", 3).alias("shingles")
        ).filter(F.size("shingles") > 0)
        ex = sh.select("doc_id", F.explode("shingles").alias("s")).select(
            "doc_id", F.xxhash64("s").alias("h")
        )
        return ex.groupBy("doc_id").agg(
            F.collect_set("h").alias("hs"),
            *[
                F.min(F.xxhash64("h", F.lit(seed))).alias(f"m{seed}")
                for seed in _MINHASH_SEEDS
            ],
        )

    return cached_index(
        spark,
        "minhash16-sh3",
        os.path.join(sf, "documents.parquet"),
        _build_signatures,
        params=("shingle_w", 3, "seeds", tuple(_MINHASH_SEEDS)),
    )


def minhash_band_buckets(signatures: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) — the LSH blocking stage of
    dedup_minhash_lsh."""
    per_band = len(_MINHASH_SEEDS) // _BANDS
    return band_buckets(
        signatures,
        ["doc_id"],
        [
            F.xxhash64(*[F.col(f"m{b * per_band + j}") for j in range(per_band)])
            for b in range(_BANDS)
        ],
    )


@query("dedup_minhash_lsh", oracle=None)  # xxhash64 not portable to DuckDB
def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash + LSH near-dup: 16 minhashes over 3-gram shingles, 4
    bands of 4; candidate pairs share >= 1 band bucket; candidates are
    verified over the hashed shingle sets: exact Jaccard rounded to 4
    decimals, kept when the rounded value is >= 0.12.

    Formulated as explode -> ONE hash-aggregate: each shingle string is
    hashed once (xxhash64), then the 16 minhash permutations are plain
    `min()` aggregates over the 8-byte rehash — partial aggregation
    (map-side combine) keeps the shuffle at 16 longs + the distinct-hash
    set per doc, and the codegen stays small and vectorized (the
    array-HOF formulation compiled a 16-transform expression tree whose
    first-run codegen dominated wall time).  The signature table is a
    PERSISTED index artifact (operators/index_store.py): built once per
    corpus fingerprint, read back by every later run — it feeds the
    band explode AND both verification join sides, so as lineage the
    shingle+aggregate pass would re-execute three times per run, and at
    100 TB the build/search split is the only sane shape.  Builds are
    deterministic (xxhash64 is a fixed function) but not SQL-portable
    -> rows-only driver check."""
    grouped = minhash_signatures(spark, sf)
    # the signature table is a persisted index artifact, so each side
    # of the bucket self-join is a cheap index read
    cand = (
        bucket_pairs(
            minhash_band_buckets(grouped), "doc_id", "doc_a", "doc_b"
        )
        # persisted like `sets` below: the pair table feeds the main
        # verification branch AND the touched-docs prune, so as pure
        # lineage the band-agg + pair-explode subtree would execute
        # twice per run (verified in the executed plan).  Size is the
        # candidate count (near-dup-density-sized, MEMORY_AND_DISK
        # spillable), never corpus-sized — the same build/search
        # discipline as the signature index itself.
        .persist()
    )
    # Verification reads the fat shingle-set column ONCE, for
    # candidate-touched docs only: a broadcast semi-join prunes the
    # signature scan to collision-group members, and the (tiny,
    # spillable) result feeds BOTH pair sides — previously each side
    # re-scanned every doc's hs array (r06 bench fix; at 100 TB the
    # touched-docs set is near-dup-density-sized, not corpus-sized).
    touched = (
        cand.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        ).distinct()
    )
    # stays persisted (no unpersist): the RETURNED lazy plan reads it
    # from both pair sides at execution time — the bpe_encode
    # precedent; the cache is collision-group-sized and LRU-evictable
    sets = (
        grouped.select("doc_id", "hs")
        .join(F.broadcast(touched), "doc_id")
        .persist()
    )
    verified = pair_sides(cand, sets, "doc_id", "doc_a", "doc_b")
    return (
        verified.withColumn("jaccard", F.round(jaccard("hs_a", "hs_b"), 4))
        .filter(F.col("jaccard") >= 0.12)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_block_buckets(
    spark: SparkSession, sf: str, paired: bool = False
) -> DataFrame:
    """(doc_id, sig, q, qval) — the 5-block pigeonhole blocking stage
    of dedup_simhash, exposed for diagnostics (tools/pair_growth.py).

    ``paired=True`` is the SCALE path for low-entropy corpora: buckets
    keyed on PAIRS of blocks (C(5,2)=10 tables, ~26 bits each) instead
    of single ~13-bit blocks.  Single-block buckets degenerate when
    document signatures cluster (measured in SCALE.md §9b: a 31-word
    synthetic vocabulary put 2,061 of 5,000 docs in one bucket); the
    26-bit key roughly squares the bucket entropy.  Recall semantics:
    <= 3 differing bits leave >= 2 clean blocks (pigeonhole over 5),
    so hamming <= 3 pairs are still GUARANTEED a shared block pair;
    hamming-4 pairs whose 4 diffs land in 4 distinct blocks are missed
    (probabilistic recall at exactly 4) — the standard
    tables-vs-recall LSH trade, chosen over unbounded buckets."""
    import numpy as np

    ws = F.array_distinct(_tokens("text", lowercase=True))
    docs = t(spark, sf, "documents").select("doc_id", ws.alias("ws")).filter(
        F.size("ws") > 0
    )
    hashed = docs.select(
        "doc_id", F.transform("ws", lambda w: F.xxhash64(w)).alias("hs")
    )

    shifts = np.arange(64, dtype="uint64")

    def _simhash_fn(col):
        out = []
        for hs in col:
            h = np.asarray(hs, dtype="int64").astype("uint64")
            bits = ((h[:, None] >> shifts) & 1).sum(axis=0)
            sig = np.where(2 * bits > len(h), 1, 0).astype("uint64")
            out.append(int((sig << shifts).sum().astype("uint64")))
        # back to signed int64 for Spark's long
        return pd.Series(np.array(out, dtype="uint64").astype("int64"))

    _simhash_fn.__annotations__ = {"col": pd.Series, "return": pd.Series}
    simhash = F.pandas_udf(_simhash_fn, "long")

    signed = hashed.select("doc_id", simhash("hs").alias("sig"))
    # five ~13-bit blocks: [0,13) [13,26) [26,39) [39,52) [52,64)
    block_bounds = [(0, 13), (13, 13), (26, 13), (39, 13), (52, 12)]
    blocks = [
        F.shiftrightunsigned("sig", lo).bitwiseAND(F.lit((1 << width) - 1))
        for lo, width in block_bounds
    ]
    if paired:
        from itertools import combinations

        keys = [
            blocks[i] * F.lit(1 << 13) + blocks[j]
            for i, j in combinations(range(len(blocks)), 2)
        ]
    else:
        keys = blocks
    return signed.select(
        "doc_id",
        "sig",
        F.posexplode(F.array(*keys)).alias("q", "qval"),
    )


@query("dedup_simhash", oracle=None)  # bit-level hashing not SQL-portable
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup: 64-bit simhash over word hashes; near-dups
    agree on >= 60 bits.  Candidates are generated by exact match on
    each of FIVE signature blocks (~13 bits each): a pair with <= 4
    differing bits cannot hit all 5 blocks, so pigeonhole guarantees
    at least one shared block — with 4 blocks (the classic quarters
    layout) a 4-bit difference CAN straddle every block and the pair
    is silently missed.  Word hashing stays JVM-side (xxhash64); the
    64 per-bit majority sums are one numpy pass per Arrow batch."""
    blocks = simhash_block_buckets(spark, sf)
    a = blocks.select(
        "q", "qval", F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
    )
    b = blocks.select(
        "q", "qval", F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
    )
    cand = (
        a.join(b, ["q", "qval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        cand.withColumn("hamming", hamming("sig_a", "sig_b"))
        .filter(F.col("hamming") <= 4)
        .select("doc_a", "doc_b", "hamming")
    )


@query(
    "cosine_topk_bruteforce",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))), 4)
               AS cosine
      FROM q JOIN embeddings e ON e.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, cosine, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored)
    WHERE rn <= 5
    """,
)
def cosine_topk_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors (vec_id < 10): the
    small query side is broadcast over the corpus scan — the corpus is
    never shuffled, so this is linear in corpus size at any scale."""
    emb = t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    e = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_emb"), F.col("embedding"))
                / (_norm(F.col("q_emb")) * _norm(F.col("embedding"))),
                4,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 5
    )


@query("ann_lsh_topk", oracle=None)  # seeded hyperplanes; not SQL-portable
def ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH: CORPUS-SCALED sign
    signature — bit_length(count/64) planes clamped to [8, 24], drawn
    once from a fixed-seed generator as a 24-plane pool whose prefix
    is used (so growing the corpus EXTENDS the signature without
    changing the bits already assigned) — bucket on signature, exact
    cosine only within the query's bucket.  The fixed 8-bit signature
    this replaces saturated at 256 buckets, so bucket size (and the
    exact-rerank cost) grew linearly with the corpus; under the auto
    width the expected bucket size stays ~constant (the
    embedding_band_buckets discipline applied to the single-signature
    probe).  The scale path: both sides shuffle on the bucket key, no
    cross join anywhere.  Signature = one (batch x dim) @ (dim x 24)
    matmul per Arrow batch; the builtin-HOF formulation was
    interpreted per element and 4x slower."""
    import numpy as np

    emb = t(spark, sf, "embeddings")
    dim = 64
    n_planes = max(8, min(24, (max(emb.count(), 1) // 64).bit_length()))
    planes = np.random.RandomState(42).standard_normal((24, dim))[
        :n_planes
    ]
    pow2 = 1 << np.arange(n_planes)

    def _sig_fn(col):
        m = np.vstack(col.to_numpy()).astype("float64")
        bits = (m @ planes.T) > 0
        return pd.Series((bits @ pow2).astype("int64"))

    _sig_fn.__annotations__ = {"col": pd.Series, "return": pd.Series}
    sig = F.pandas_udf(_sig_fn, "long")

    def _cos_fn(a, b):
        ma = np.vstack(a.to_numpy()).astype("float64")
        mb = np.vstack(b.to_numpy()).astype("float64")
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        return pd.Series(np.round(np.einsum("ij,ij->i", ma, mb), 4))

    _cos_fn.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    pair_cos = F.pandas_udf(_cos_fn, "double")

    tagged = emb.select("vec_id", "embedding", sig("embedding").alias("bucket"))
    q = tagged.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "bucket",
    )
    scored = (
        tagged.join(q, "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            pair_cos("q_emb", "embedding").alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 5
    )


@query(
    "embedding_stats",
    oracle="""
    SELECT label, count(*) AS n,
           round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 4)
             AS avg_norm,
           round(avg(embedding[1]), 4) AS avg_dim0
    FROM embeddings GROUP BY label
    """,
)
def embedding_stats(spark: SparkSession, sf: str) -> DataFrame:
    emb = t(spark, sf, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(_norm(F.col("embedding"))), 4).alias("avg_norm"),
        F.round(F.avg(F.col("embedding")[0].cast("double")), 4).alias("avg_dim0"),
    )


# sign-bit hyperplane LSH: band b's bucket = the sign bits of dims
# [b*r, b*r+r).  Axis-aligned hyperplanes keep the signature JVM-side
# AND SQL-portable, so the DuckDB oracle reproduces the blocking
# bit-for-bit (random-rotation planes — the higher-recall variant —
# need the numpy path, see ann_lsh_topk, and go rows-only).
_EMB_LSH_BANDS = 16
_EMB_LSH_BITS = 4  # bucket bits per band; grows ~log(corpus) at scale


def _emb_band_buckets():
    return F.array(
        *[
            sum(
                (F.col("embedding")[b * _EMB_LSH_BITS + j] > 0).cast("int")
                * (1 << j)
                for j in range(_EMB_LSH_BITS)
            )
            for b in range(_EMB_LSH_BANDS)
        ]
    )


def _emb_lsh_auto_bits(n: int) -> int:
    """bits-per-band on the scale path: target ~64 vectors per
    band-bucket, 4-bit floor (the fixture recipe), 16-bit cap."""
    return max(_EMB_LSH_BITS, min(16, (max(n, 1) // 64).bit_length()))


def embedding_band_buckets(
    emb: DataFrame, bits_per_band: int | None = None
) -> DataFrame:
    """(vec_id, band, bucket) — the sign-LSH blocking stage of
    dedup_embedding_cosine, exposed for diagnostics
    (tools/pair_growth.py).

    ``bits_per_band=None`` (the DEFAULT — the production path since
    round 7) is the SCALE mode: bits grow with
    log2(corpus / target-bucket-size) so the 2^bits bucket space keeps
    pace with the corpus and per-band bucket size stays ~constant —
    with a fixed 4 bits the bucket space is a CONSTANT 256 cells and
    candidate pairs grow quadratically (measured in SCALE.md §9b).
    Bits 0..3 stay the raw component signs (bit-compatible with the
    fixed recipe); bits >= 4 are signs of deterministic
    coordinate-difference hyperplanes
    sign(x[p] - x[q]) = sign((e_p - e_q) . x) — a valid cosine-LSH
    family that needs no stored random planes, stays JVM-side, and is
    SQL-portable, so the DuckDB oracles replay the SAME auto blocking
    at any scale (_emb_lsh_oracle_bucket_auto computes bits from
    count(*) with the identical integer thresholds).  More bits trade
    recall per band (p^bits match probability) for bucket size; pass
    an explicit ``bits_per_band`` only for fixture pins and
    diagnostics."""
    if bits_per_band is None:
        bits_per_band = _emb_lsh_auto_bits(emb.count())
    dim = 64

    def _bit(b: int, j: int):
        if j < _EMB_LSH_BITS:
            return (F.col("embedding")[b * _EMB_LSH_BITS + j] > 0).cast("int")
        p = (b * _EMB_LSH_BITS + j * 7) % dim
        q = (b * _EMB_LSH_BITS + j * 13 + 1) % dim
        if p == q:
            q = (q + 1) % dim
        return (
            F.col("embedding")[p] > F.col("embedding")[q]
        ).cast("int")

    return band_buckets(
        emb,
        ["vec_id"],
        [
            sum(_bit(b, j) * (1 << j) for j in range(bits_per_band))
            for b in range(_EMB_LSH_BANDS)
        ],
    )


def _emb_lsh_oracle_bucket(prefix: str = "") -> str:
    """DuckDB expression for a band bucket (1-indexed list access)."""
    terms = " + ".join(
        f"CAST({prefix}embedding[band*{_EMB_LSH_BITS} + {j + 1}] > 0 AS INT) * {1 << j}"
        for j in range(_EMB_LSH_BITS)
    )
    return terms


def _emb_lsh_bits_sql(lo: int = _EMB_LSH_BITS, hi: int = 16) -> str:
    """The auto signature width as a 1-row DuckDB relation — integer
    threshold CASE, no float log anywhere, replicating
    bit_length(count // 64) clamped to [lo, hi]
    (bit_length(x) = b  <=>  x in [2^(b-1), 2^b)).  Defaults are the
    banded-LSH recipe; ann_lsh_topk_portable passes [8, 24]."""
    x = "(count(*) // 64)"
    cases = " ".join(
        f"WHEN {x} >= {1 << (b - 1)} THEN {b}" for b in range(hi, lo, -1)
    )
    return f"SELECT CASE {cases} ELSE {lo} END AS bits FROM embeddings"


def _emb_lsh_oracle_bucket_auto(prefix: str = "") -> str:
    """DuckDB band-bucket expression for the AUTO (corpus-scaled)
    blocking: bits 0..3 are the raw component signs (identical to the
    fixed recipe), bits 4..15 are the deterministic
    coordinate-difference hyperplane signs, each gated on
    ``nb.bits`` — the enclosing query must CROSS JOIN the 1-row nb
    relation (_emb_lsh_bits_sql).  Gated terms contribute 0 when
    j >= bits, so the expression evaluates the same packed integer as
    the Spark side at every corpus size.  (For j >= 4 the two probe
    positions p=(band·4+7j)%64 and q=(band·4+13j+1)%64 differ by the
    odd constant 6j+1 mod 64 and can never collide, so no p==q
    adjustment is needed.)"""
    terms = []
    for j in range(16):
        if j < _EMB_LSH_BITS:
            terms.append(
                f"CAST({prefix}embedding[band*{_EMB_LSH_BITS} + {j + 1}]"
                f" > 0 AS INT) * {1 << j}"
            )
        else:
            p = f"((band*{_EMB_LSH_BITS} + {j * 7}) % 64) + 1"
            q = f"((band*{_EMB_LSH_BITS} + {j * 13 + 1}) % 64) + 1"
            terms.append(
                f"CASE WHEN {j} < nb.bits THEN"
                f" CAST({prefix}embedding[{p}] > {prefix}embedding[{q}]"
                f" AS INT) * {1 << j} ELSE 0 END"
            )
    return " + ".join(terms)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH nb AS ({_emb_lsh_bits_sql()}),
    ex AS (
      SELECT vec_id, r.range AS band,
             {_emb_lsh_oracle_bucket_auto()} AS bucket
      FROM embeddings CROSS JOIN range(0, {_EMB_LSH_BANDS}) r
      CROSS JOIN nb),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM ex a JOIN ex b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings)
    SELECT c.vec_a, c.vec_b,
           round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cosine
    FROM cand c JOIN n a ON a.vec_id = c.vec_a JOIN n b ON b.vec_id = c.vec_b
    WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup: cosine >= 0.4 among pairs sharing at least
    one LSH band bucket (16 bands, CORPUS-SCALED bits per band —
    bit_length(count/64) clamped to [4, 16], the
    embedding_band_buckets auto mode that is the production default
    since round 7).  Candidate generation is a bucketed equi-join —
    NO all-pairs join anywhere in the plan: pair fan-out is bounded by
    band-bucket size, and the 2^bits bucket space grows with the
    corpus so per-bucket size stays ~constant (a fixed 4 bits made
    candidate pairs quadratic — SCALE.md §9b; driver VERDICT r06
    "what's wrong" #1).  Candidates are then verified with exact
    cosine; the DuckDB oracle computes the identical auto blocking —
    bits from the same integer thresholds on count(*) — so the
    hash-match is exact by construction at any SF."""
    # one projected persist: the bucket self-join reads it twice and
    # the exact-cosine verify joins vectors back twice more — a
    # single FileScan + compact cache instead of four parquet
    # re-reads (the hard_negative_mining discipline; measured 2.78 →
    # 2.51 s at sf0.1, SCALE.md §10f), and the auto-bits count() is
    # a cache hit instead of a scan
    emb = (
        t(spark, sf, "embeddings")
        .select(
            "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
        )
        .persist()
    )
    cand = bucket_pairs(
        embedding_band_buckets(emb), "vec_id", "vec_a", "vec_b"
    )
    n = emb.select("vec_id", "embedding", "nrm")
    # Arrow-batched sequential dot (opt r14): the verify stage runs
    # once per candidate pair (787k at sf0.1) and the HOF fold is
    # CodegenFallback — see functions/vector.py::pair_dot for the
    # bit-identity argument (same left-to-right IEEE order)
    cos = pair_cosine("embedding_a", "embedding_b", "nrm_a", "nrm_b")
    return (
        pair_sides(cand, n, "vec_id", "vec_a", "vec_b")
        .filter(cos >= 0.4)
        .select("vec_a", "vec_b", F.round(cos, 4).alias("cosine"))
    )


@query(
    "dedup_connected_components",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(list_filter(str_split(lower(text),' '), x -> x <> '')) - 3, 0) + 1),
               i -> array_to_string(list_filter(str_split(lower(text),' '), x -> x <> '')[i:i+3], ' ')
             )) AS shingles
      FROM documents),
    toks AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    rare AS (SELECT s FROM toks GROUP BY s HAVING count(DISTINCT doc_id) = 2),
    e AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
          FROM toks a JOIN rare USING (s) JOIN toks b USING (s)
          WHERE a.doc_id <> b.doc_id),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.node
    )
    SELECT node AS doc_id, min(label) AS component
    FROM reach GROUP BY node
    """,
)
def dedup_connected_components(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    "shares a rare 4-gram shingle" graph (df=2 shingles — the
    chain-building signal near-dup pipelines group pairs with), by
    iterative min-label propagation (Pregel shape: each round is one
    edge join + min-aggregate, O(diameter) rounds; lineage is cut
    with localCheckpoint each round so the plan stays flat).  The
    DuckDB oracle is the same graph closed with a recursive CTE —
    an iterative distributed algorithm hash-checked against SQL."""
    docs = t(spark, sf, "documents").select(
        "doc_id", _shingles("text", 4).alias("shingles")
    )
    toks = docs.select("doc_id", F.explode("shingles").alias("s"))
    rare = (
        toks.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))  # (doc_id, s) is unique
        .filter(F.col("df") == 2)
        .select("s")
    )
    # materialize the rare-token stream: the pair self-join reads it
    # twice, and each lineage replay would redo shingling + the df agg
    half = toks.join(rare, "s").localCheckpoint()
    edges = (
        half.select("s", F.col("doc_id").alias("src"))
        .join(half.select("s", F.col("doc_id").alias("dst")), "s")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint()
    )
    labels = docs.select(
        "doc_id", F.col("doc_id").alias("label")
    ).localCheckpoint()
    for _ in range(50):
        prop = edges.join(
            labels, edges.src == labels.doc_id
        ).select(F.col("dst").alias("doc_id"), "label")
        mins = (
            labels.union(prop)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping (path doubling): also adopt the label OF the
        # current label — long chains collapse in O(log diameter)
        # rounds instead of O(diameter)
        jump = mins.select(
            F.col("doc_id").alias("j_doc"), F.col("label").alias("j_label")
        )
        new_labels = (
            mins.join(jump, mins.label == jump.j_doc, "left")
            .select(
                "doc_id",
                F.least("label", "j_label").alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("doc_id", F.col("label").alias("component"))


@query(
    "training_data_pipeline",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, source, text,
             list_filter(str_split(text, ' '), x -> x <> '') AS ws
      FROM documents),
    scored AS (
      SELECT doc_id, lang, source,
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fingerprint,
             len(ws) AS n_tokens,
             CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS ttr
      FROM toks WHERE len(ws) > 0),
    keep AS (
      SELECT fingerprint, min(doc_id) AS keeper FROM scored GROUP BY fingerprint)
    SELECT s.doc_id, s.lang, s.source,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           round(s.ttr, 4) AS ttr
    FROM scored s JOIN keep k USING (fingerprint)
    WHERE s.doc_id = k.keeper
      AND s.lang IN ('en', 'de', 'fr', 'es')
      AND s.n_tokens BETWEEN 20 AND 200
      AND s.ttr >= 0.35
    """,
)
def training_data_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The end-to-end curation pipeline an LLM corpus actually runs,
    as ONE composed plan: tokenize -> quality score (token count,
    type-token ratio) -> language allowlist -> exact-dedup keeper ->
    final corpus.  Single corpus scan feeds everything; the dedup
    keeper is a window over the fingerprint (no second scan, cf.
    dedup_exact); all gates are JVM expressions so the whole pipeline
    is one codegen'd pass + one shuffle."""
    docs = t(spark, sf, "documents")
    ws = _tokens("text")
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        norm_fingerprint("text").alias("fingerprint"),
        F.size(ws).alias("n_tokens"),
        (F.size(F.array_distinct(ws)).cast("double") / F.size(ws)).alias("ttr"),
    ).filter(F.col("n_tokens") > 0)
    keeper = F.min("doc_id").over(W.partitionBy("fingerprint"))
    return (
        scored.withColumn("keeper", keeper)
        .filter(
            (F.col("doc_id") == F.col("keeper"))
            & F.col("lang").isin("en", "de", "fr", "es")
            & F.col("n_tokens").between(20, 200)
            & (F.col("ttr") >= 0.35)
        )
        .select(
            "doc_id",
            "lang",
            "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round("ttr", 4).alias("ttr"),
        )
    )


@query(
    "train_test_split",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS UBIGINT) % 100 AS bucket
      FROM documents)
    SELECT doc_id, lang,
           CAST(bucket AS BIGINT) AS bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def train_test_split(spark: SparkSession, sf: str) -> DataFrame:
    """Reproducible 80/10/10 corpus split: bucket = first 4 md5 bytes
    of a salted doc key, mod 100.  Hash-based (not sample()-based)
    splits are stable under corpus growth — a doc's split never
    changes when other docs are added — and portable across engines,
    which the oracle proves."""
    docs = t(spark, sf, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return docs.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        # lateral column alias: `bucket` here is the select-list alias
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@query("stratified_sample", oracle=None)  # seeded sampling: engine-specific
def stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language stratified sample (sampleBy, fixed seed):
    downsample the dominant language to balance the corpus — the
    rebalancing step before training-data mixing.  Bernoulli sampling
    is seed-deterministic within Spark but not portable across
    engines -> rows-only check of the per-stratum counts."""
    docs = t(spark, sf, "documents")
    fractions = {"en": 0.35, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    sampled = docs.sampleBy("lang", fractions=fractions, seed=42)
    return sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


# --------------------------------------------------------------------------
# Portable (oracle-checked) MinHash — md5-based twin of dedup_minhash_lsh
# --------------------------------------------------------------------------

_PMH_N = 8  # portable minhash permutations
_PMH_BANDS = 4  # bands of 2 -> candidate if any band matches
_PMH_TAU_E6 = 120_000  # exact-Jaccard verification, 1e-6 ticks


def _pmh_sig_sql() -> str:
    """WITH-chain computing the portable-MinHash signature table
    (doc_id, hs hashed shingle set, m0..m7) — the shared head of the
    pair oracles and the merged-index summary oracle."""
    from .llm3 import _md5_u32_sql

    sig_cols = ",\n             ".join(
        f"min({_md5_u32_sql(str(i), 's')}) AS m{i}" for i in range(_PMH_N)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ws) - 1),
                      i -> array_to_string(ws[i:i + 2], ' '))) AS s
        FROM toks WHERE len(ws) >= 3)),
    sig AS MATERIALIZED (
      SELECT doc_id,
             list(DISTINCT {_md5_u32_sql('J', 's')}) AS hs,
             {sig_cols}
      FROM sh GROUP BY doc_id)"""


def _pmh_oracle(pair_pred: str = "") -> str:
    """DuckDB twin of the portable-MinHash pipeline.  ``pair_pred``
    optionally restricts the candidate pairs (AND-ed into the cand
    CTE) — the incremental-update query pins only pairs touching the
    delta snapshot; the oracle computes the same answer monolithically
    because incrementality changes WORK, never VALUES."""
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, "
        f"concat(CAST(m{2 * b} AS VARCHAR), ':', "
        f"CAST(m{2 * b + 1} AS VARCHAR)) AS bucket FROM sig"
        for b in range(_PMH_BANDS)
    )
    return f"""{_pmh_sig_sql()},
    bands AS (
      {band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id{pair_pred})
    SELECT doc_a, doc_b,
           CAST(floor(len(list_intersect(x.hs, y.hs))
                      / CAST(len(x.hs) + len(y.hs)
                             - len(list_intersect(x.hs, y.hs)) AS DOUBLE)
                      * 1e6) AS BIGINT) AS jac_e6
    FROM cand
    JOIN sig x ON x.doc_id = doc_a
    JOIN sig y ON y.doc_id = doc_b
    WHERE CAST(floor(len(list_intersect(x.hs, y.hs))
                     / CAST(len(x.hs) + len(y.hs)
                            - len(list_intersect(x.hs, y.hs)) AS DOUBLE)
                     * 1e6) AS BIGINT) >= {_PMH_TAU_E6}
    """


@query("dedup_minhash_portable", oracle=_pmh_oracle())
def dedup_minhash_portable(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH with a fully ORACLE-CHECKED hash family: every
    stage — 8 md5-derived minhash permutations over 3-gram shingles,
    4 bands of 2, in-bucket candidate pairs, exact-Jaccard
    verification over the hashed shingle sets — is bit-reproduced by
    the DuckDB twin, upgrading the MinHash family from rows-only to
    hash-verified (dedup_minhash_lsh keeps xxhash64 as the production
    hash: one JVM hash call vs md5+hex-parse per shingle ~ 3-4x
    cheaper; THIS query proves the pipeline's structure end-to-end).
    Same single-aggregate shape as dedup_minhash_lsh: shingles hashed
    once per permutation, signatures via map-side-combinable min()s,
    pairs enumerated inside band buckets without a self-join of the
    signature subtree."""
    grouped = _pmh_signatures(t(spark, sf, "documents"))
    cand = _pmh_candidates(grouped)
    sets = grouped.select("doc_id", "hs")
    return (
        pair_sides(cand, sets, "doc_id", "doc_a", "doc_b")
        .select("doc_a", "doc_b", jaccard_e6("hs_a", "hs_b").alias("jac_e6"))
        .filter(F.col("jac_e6") >= _PMH_TAU_E6)
    )


def _pmh_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, hs: hashed shingle set, m0..m7 minhash signature) —
    the shared signature stage of the portable MinHash family
    (dedup_minhash_portable + minhash_recall_audit)."""
    from .llm3 import _md5_u32

    sh = docs.select("doc_id", _shingles("text", 3).alias("shingles")).filter(
        F.size("shingles") > 0
    )
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    return ex.groupBy("doc_id").agg(
        F.collect_set(_md5_u32("J", F.col("s"))).alias("hs"),
        *[
            F.min(_md5_u32(str(i), F.col("s"))).alias(f"m{i}")
            for i in range(_PMH_N)
        ],
    )


def _pmh_bands() -> list[F.Column]:
    """The portable MinHash band keys: permutation pairs (m2b, m2b+1)
    joined as strings."""
    return [
        F.concat_ws(":", F.col(f"m{2 * b}"), F.col(f"m{2 * b + 1}"))
        for b in range(_PMH_BANDS)
    ]


def _pmh_candidates(
    grouped: DataFrame, persist_bands: bool = True
) -> DataFrame:
    """In-bucket LSH candidate pairs from the signature table.

    ``persist_bands=False`` skips the bands cache for callers whose
    ``grouped`` is already a materialized leaf (curation v4's msig
    checkpoint) — there the self-join re-reads the leaf twice for
    free and the extra cache pass is pure overhead (measured +1 s on
    v4)."""
    bands = band_buckets(grouped, ["doc_id"], _pmh_bands())
    # The (doc_id, band, bucket) projection persists because the
    # self-join reads it twice and its lineage is the full signature
    # aggregate — a 24 B/row cache vs re-running the 8-permutation md5
    # pass.
    if persist_bands:
        bands = bands.persist()
    return bucket_pairs(bands, "doc_id", "doc_a", "doc_b")


# --------------------------------------------------------------------------
# Incremental MinHash index update — the nightly cross-run dedup shape
# --------------------------------------------------------------------------

_PMH_DELTA_MOD = 10  # doc_id % 10 == 0 is "tonight's snapshot"


def _pmh_base_index(spark: SparkSession, sf: str) -> DataFrame:
    """Persisted portable-MinHash signatures of the BASE corpus
    (doc_id % 10 != 0) — the artifact "last night's run" left behind
    (operators/index_store.py; built once per corpus fingerprint,
    read back by every later run).  The incremental-update query
    never recomputes these: its only documents scan is the delta."""

    def _build() -> DataFrame:
        return _pmh_signatures(
            t(spark, sf, "documents").filter(
                F.col("doc_id") % _PMH_DELTA_MOD != 0
            )
        )

    return cached_index(
        spark,
        "pmh-base",
        os.path.join(sf, "documents.parquet"),
        _build,
        params=("pmh", _PMH_N, "split", f"mod{_PMH_DELTA_MOD}!=0"),
    )


def _pmh_delta_candidates(merged: DataFrame) -> DataFrame:
    """Delta-pruned LSH candidate pairs from a merged signature frame:
    pairs are enumerated ONLY from buckets that contain at least one
    delta doc (has_new on the bucket aggregate), then restricted to
    delta-incident pairs.  Factored out of the incremental query so
    the pair-growth audit (tests/test_pair_growth.py) can pin the
    candidate stage directly: these candidates must equal the FULL
    `_pmh_candidates` enumeration restricted to delta-incident pairs
    — pruning changes which buckets get pair-expanded, never which
    delta-incident pairs come out."""
    is_new = (F.col("doc_id") % _PMH_DELTA_MOD == 0).cast("int")
    bands = band_buckets(
        merged, ["doc_id", is_new.alias("is_new")], _pmh_bands()
    )
    # A delta-against-all probe, not simjoin.bucket_pairs' symmetric
    # a < b join.  The delta-bucket pruning (only buckets
    # holding a new doc were pair-expanded) is subsumed by the
    # delta-incident pair filter: a pair with a new side can only
    # come from a bucket that holds that new doc, so restricting
    # PAIRS to delta-incident yields the identical set the pruned
    # enumeration produced (pinned by tests/test_pair_growth.py).
    # The delta side of the join is pre-filtered to new docs, so the
    # join fan-out is delta × bucket-mates, not bucket².
    bands = bands.persist()
    new_side = bands.filter(F.col("is_new") == 1)
    pairs = (
        new_side.select(F.col("doc_id").alias("doc_n"), "band", "bucket")
        .join(
            bands.select(F.col("doc_id").alias("doc_o"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("doc_n") != F.col("doc_o"))
        .select(
            F.least("doc_n", "doc_o").alias("doc_a"),
            F.greatest("doc_n", "doc_o").alias("doc_b"),
        )
    )
    return pairs.dropDuplicates(["doc_a", "doc_b"])


@query(
    "minhash_index_incremental_update",
    oracle=_pmh_oracle(
        f"\n       AND (a.doc_id % {_PMH_DELTA_MOD} = 0"
        f" OR b.doc_id % {_PMH_DELTA_MOD} = 0)"
    ),
)
def minhash_index_incremental_update(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental MinHash index UPDATE — the cross-run dedup a
    training-data lake runs nightly (VERDICT r08 next-round #5):
    merge a new snapshot (doc_id % 10 == 0) into the persisted
    signature index WITHOUT recomputing old signatures, and emit the
    near-dup pairs the new snapshot introduces against everything
    already indexed (plus within itself).

    Incrementality, concretely: base signatures come back from the
    `pmh-base` parquet artifact (operators/index_store.py) — the ONLY
    documents FileScan in the executed plan is delta-filtered
    (doc_id % 10 = 0, pushed down), so per nightly run the work is
    O(delta + collision groups), never O(corpus).  MinHash signatures
    are a distributive sketch: sig(base ∪ delta) row-wise equals
    sig(base) ∪ sig(delta) for disjoint doc sets, which is what makes
    the index APPEND-ONLY mergeable (pinned bit-exact by
    tests/test_llm3.py::test_incremental_minhash_merge_equals_rebuild).
    Candidate enumeration prunes to buckets CONTAINING a delta doc
    (has_new flag on the bucket aggregate) — base-only collision
    groups, the overwhelming majority at real delta fractions, are
    never pair-expanded.  Verification is the portable family's exact
    Jaccard over hashed shingle sets, reading the hs column of the
    SAME merged signature frame.

    The oracle computes the identical answer monolithically —
    incrementality changes WORK, never VALUES."""
    base = _pmh_base_index(spark, sf)
    # delta signatures: the one live documents scan, delta-pruned
    delta = _pmh_signatures(
        t(spark, sf, "documents").filter(
            F.col("doc_id") % _PMH_DELTA_MOD == 0
        )
    ).persist()  # feeds the union twice (bands + verify); delta-sized
    merged = base.unionByName(delta)
    cand = _pmh_delta_candidates(merged)
    sets = merged.select("doc_id", "hs")
    return (
        pair_sides(cand, sets, "doc_id", "doc_a", "doc_b")
        .select("doc_a", "doc_b", jaccard_e6("hs_a", "hs_b").alias("jac_e6"))
        .filter(F.col("jac_e6") >= _PMH_TAU_E6)
    )


def _pmh_merge_oracle() -> str:
    sums = ",\n           ".join(
        f"CAST(sum(m{i}) AS BIGINT) AS s{i}" for i in range(_PMH_N)
    )
    return f"""{_pmh_sig_sql()}
    SELECT CAST(doc_id % {_PMH_DELTA_MOD} = 0 AS BIGINT) AS is_delta,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(hs)) AS BIGINT) AS sum_hs_len,
           {sums}
    FROM sig GROUP BY 1
    """


@query("minhash_index_merge_persist", oracle=_pmh_merge_oracle())
def minhash_index_merge_persist(spark: SparkSession, sf: str) -> DataFrame:
    """Nightly index WRITE-BACK — the lifecycle completion of
    minhash_index_incremental_update (VERDICT r09 #3): persist
    base ∪ delta signatures via operators/index_store.py::merge_index
    so tomorrow's run reads the merged artifact instead of
    re-deriving base ∪ delta per query, then summarize the READ-BACK
    frame (per snapshot half: doc count, total hashed-shingle
    postings, and the 8 per-permutation signature sums — a checksum
    over every minhash value in the index, so a single corrupted or
    dropped signature row flips the output).

    Lifecycle, concretely: `base_fn` READS the pmh-base artifact
    (never recomputes — its only build happens the first night),
    `delta_fn` signatures the delta-pruned documents scan, and
    merge_index persists the union under the UPDATED corpus
    fingerprint — so night-2 queries are pure parquet reads of the
    merge, and a changed corpus or recipe re-keys automatically.
    Cross-session read→update→re-read is pinned by
    tests/test_llm3.py::test_merge_index_lifecycle_persists_across_reads.
    MinHash distributivity over disjoint doc sets licenses the merge
    bit-exactly (test_incremental_minhash_merge_equals_rebuild).

    The oracle computes the identical summary from monolithically
    rebuilt signatures — persistence changes WORK, never VALUES."""
    src = os.path.join(sf, "documents.parquet")

    def _delta() -> DataFrame:
        return _pmh_signatures(
            t(spark, sf, "documents").filter(
                F.col("doc_id") % _PMH_DELTA_MOD == 0
            )
        )

    merged = merge_index(
        spark,
        "pmh-merged",
        src,
        lambda: _pmh_base_index(spark, sf),
        _delta,
        params=("pmh", _PMH_N, "merged", f"mod{_PMH_DELTA_MOD}"),
    )
    return (
        merged.groupBy(
            (F.col("doc_id") % _PMH_DELTA_MOD == 0)
            .cast("long")
            .alias("is_delta")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("hs")).alias("sum_hs_len"),
            *[F.sum(f"m{i}").alias(f"s{i}") for i in range(_PMH_N)],
        )
    )


_PMH_NIGHT2_MOD = 5  # doc_id % 10 == 5 is "tomorrow night's snapshot"


def _pmh_chain_oracle() -> str:
    sums = ",\n           ".join(
        f"CAST(sum(m{i}) AS BIGINT) AS s{i}" for i in range(_PMH_N)
    )
    return f"""{_pmh_sig_sql()}
    SELECT CAST(CASE WHEN doc_id % {_PMH_DELTA_MOD} = 0 THEN 1
                     WHEN doc_id % {_PMH_DELTA_MOD} = {_PMH_NIGHT2_MOD}
                     THEN 2 ELSE 0 END AS BIGINT) AS night,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(hs)) AS BIGINT) AS sum_hs_len,
           {sums}
    FROM sig GROUP BY 1
    """


@query("minhash_index_chain_night2", oracle=_pmh_chain_oracle())
def minhash_index_chain_night2(spark: SparkSession, sf: str) -> DataFrame:
    """Two-night index RECURRENCE (VERDICT r10 #4): night 1 merges
    snapshot δ1 (doc_id % 10 == 0) into the base index, night 2
    merges snapshot δ2 (doc_id % 10 == 5) into NIGHT 1'S MERGED
    ARTIFACT — proving merged(merged(base, δ1), δ2) equals a
    monolithic rebuild over base ∪ δ1 ∪ δ2, the last untested step of
    the nightly contract (operators/index_store.py::merge_chain).

    Keying, concretely: each night's artifact is keyed on an explicit
    monotone snapshot id ('n1', 'n2'), so night 2's base lookup
    resolves to night 1's artifact deterministically in any session —
    the ADVICE r10 keying caveat (mtime-keyed bases silently degrade
    to full rebuilds) is structurally avoided.  Steady state for the
    fully-merged chain is ONE parquet read of the night-2 artifact;
    each night's first build reads the previous artifact plus its own
    delta-pruned documents scan — O(delta + base copy), never a
    corpus re-scan.  Bit-exactness of the recurrence is pinned
    cross-night and cross-session by
    tests/test_llm3.py::test_merge_chain_two_nights_equals_rebuild.

    The output summarizes the night-2 READ-BACK per snapshot class
    (doc count, total hashed-shingle postings, 8 per-permutation
    signature sums — a checksum over every minhash value, so one
    dropped or corrupted row anywhere in the chain flips it); the
    oracle rebuilds monolithically — chaining changes WORK, never
    VALUES."""
    from ..operators.index_store import merge_chain

    src = os.path.join(sf, "documents.parquet")
    mod = F.col("doc_id") % _PMH_DELTA_MOD

    def _base() -> DataFrame:
        return _pmh_signatures(
            t(spark, sf, "documents").filter(
                (mod != 0) & (mod != _PMH_NIGHT2_MOD)
            )
        )

    def _delta(rem: int):
        def fn() -> DataFrame:
            return _pmh_signatures(
                t(spark, sf, "documents").filter(mod == rem)
            )

        return fn

    merged = merge_chain(
        spark,
        "pmh-chain",
        src,
        _base,
        [("n1", _delta(0)), ("n2", _delta(_PMH_NIGHT2_MOD))],
        params=("pmh", _PMH_N, "chain", f"mod{_PMH_DELTA_MOD}"),
    )
    night = (
        F.when(mod == 0, F.lit(1))
        .when(mod == _PMH_NIGHT2_MOD, F.lit(2))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return merged.groupBy(night.alias("night")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("hs")).alias("sum_hs_len"),
        *[F.sum(f"m{i}").alias(f"s{i}") for i in range(_PMH_N)],
    )


# --------------------------------------------------------------------------
# Portable (oracle-checked) SimHash — integer-only twin of dedup_simhash
# --------------------------------------------------------------------------

_PSH_BITS = 16  # signature width (production: 64)
_PSH_HAM = 3  # verified near-dup threshold
_PSH_BUCKET_CAP = 100  # drop degenerate blocking buckets larger than this


def _psh_sig_sql() -> str:
    """WITH-chain computing the portable-SimHash signature table
    (doc_id, sig) — the shared head of the doc-pair oracle and the
    class-pair oracle (dedup_simhash_classes)."""
    from .llm3 import _md5_u32_sql

    h = _md5_u32_sql("S", "w")
    cnt_cols = ",\n             ".join(
        f"sum(({h} // {1 << k}) % 2) AS c{k}" for k in range(_PSH_BITS)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN 2 * c{k} > n THEN {1 << k} ELSE 0 END)"
        for k in range(_PSH_BITS)
    )
    return f"""
    WITH words AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id,
               unnest(list_distinct(list_filter(
                 string_split(lower(text), ' '), x -> x <> ''))) AS w
        FROM documents)),
    agg AS (
      SELECT doc_id, count(*) AS n,
             {cnt_cols}
      FROM words GROUP BY doc_id),
    sig AS MATERIALIZED (
      SELECT doc_id, CAST({sig_terms} AS BIGINT) AS sig FROM agg)"""


def _psh_oracle() -> str:
    return f"""{_psh_sig_sql()},
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
        ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(x.sig, y.sig)) AS BIGINT) AS hamming
    FROM cand
    JOIN sig x ON x.doc_id = doc_a
    JOIN sig y ON y.doc_id = doc_b
    WHERE bit_count(xor(x.sig, y.sig)) <= {_PSH_HAM}
    """


def psh_signatures(docs: DataFrame) -> DataFrame:
    """Portable-SimHash signatures (doc_id, sig: 16-bit long) over
    any (doc_id, ws: array<string>) frame — the shared head of
    psh_pairs and dedup_simhash_classes.  Bit k of the signature is
    the majority of bit k over the doc's distinct-word md5 hashes;
    the 16 majority sums are plain shiftright/AND aggregates with
    map-side combine, no UDF."""
    from .llm3 import _md5_u32

    hashed = docs.select(
        "doc_id", F.explode(F.array_distinct("ws")).alias("w")
    ).select("doc_id", _md5_u32("S", F.col("w")).alias("h"))
    agg = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1))
            ).alias(f"c{k}")
            for k in range(_PSH_BITS)
        ],
    )
    sig_col = None
    for k in range(_PSH_BITS):
        term = F.when(2 * F.col(f"c{k}") > F.col("n"), 1 << k).otherwise(0)
        sig_col = term if sig_col is None else sig_col + term
    return agg.select("doc_id", sig_col.cast("long").alias("sig"))


def psh_pairs(docs: DataFrame) -> DataFrame:
    """Portable-SimHash near-dup pairs (doc_a < doc_b, hamming <=
    _PSH_HAM) over any (doc_id, ws: array<string>) frame — the shared
    kernel of dedup_simhash_portable and curation_pipeline_v3's
    near-dup keeper stage.  See dedup_simhash_portable for the scale
    rationale (md5 bit-majority signatures, pigeonhole blocking,
    bucket cap)."""
    sig = psh_signatures(docs)
    blocks = sig.select(
        "doc_id",
        F.posexplode(
            F.array(F.col("sig") % 256, F.shiftright(F.col("sig"), 8))
        ).alias("blk", "val"),
    ).withColumn("val", F.col("val").cast("long"))
    wcap = W.partitionBy("blk", "val")
    capped = blocks.withColumn("bsz", F.count(F.lit(1)).over(wcap)).filter(
        F.col("bsz") <= _PSH_BUCKET_CAP
    )
    # NOTE (opt r14): this stays the collect_list + pairwise-explode
    # form DELIBERATELY, unlike the uncapped band-bucket families
    # (operators/simjoin.py::bucket_pairs): the r14 A/B of the
    # self-join form here read curation_pipeline_v3 2.61 -> 3.24 s
    # isolated (the extra capped persist + join passes cost more than
    # the explode), and the 100 TB straggler argument does not apply —
    # _PSH_BUCKET_CAP bounds every bucket at 100 docs, so one
    # exploding row is capped at 100·99/2 pairs by construction.
    cand = (
        capped.groupBy("blk", "val")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("ids"), i + F.lit(2), F.size("ids")
                            ),
                            lambda y: F.struct(
                                x.alias("doc_a"), y.alias("doc_b")
                            ),
                        ),
                    )
                )
            ).alias("pair")
        )
        .select("pair.doc_a", "pair.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = hamming("sig_a", "sig_b")
    return (
        pair_sides(cand, sig, "doc_id", "doc_a", "doc_b")
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= _PSH_HAM)
    )


@query("dedup_simhash_portable", oracle=_psh_oracle())
def dedup_simhash_portable(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup with a fully ORACLE-CHECKED integer pipeline:
    16-bit signatures from md5-derived word hashes (bit k of the
    signature = majority of bit k over the doc's distinct-word
    hashes), 2-block pigeonhole blocking (hamming <= 1 guaranteed a
    shared block; <= 3 verified when candidates surface), hamming via
    bit_count(xor).  Every stage is exact integer arithmetic, so the
    DuckDB twin is bit-identical — upgrading SimHash from rows-only
    (dedup_simhash's 64-bit numpy/xxhash64 production path) to
    hash-verified.  Degenerate buckets — the measured failure mode of
    low-entropy corpora (SCALE.md §9b: 2,061/5,000 docs in one
    block) — are dropped at 100 docs, mirrored in the oracle: the
    same df-cap armor as decontamination, trading recall inside
    stopword-like buckets for bounded fan-out at any corpus size.
    Pure built-ins, no UDF: the 16 majority sums are plain
    shiftright/AND aggregates with map-side combine."""
    ws = _tokens("text", lowercase=True)
    docs = (
        t(spark, sf, "documents")
        .select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") > 0)
    )
    return psh_pairs(docs)


_STRAT_FRACS = {"en": 0.35, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}


def _strat_oracle() -> str:
    from .llm3 import _md5_uniform_sql

    u = _md5_uniform_sql("strat", "doc_id")
    cases = " ".join(
        f"WHEN '{lang}' THEN {frac}" for lang, frac in _STRAT_FRACS.items()
    )
    return f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {u} < (CASE lang {cases} ELSE 1.0 END)
    """


@query("stratified_sample_portable", oracle=_strat_oracle())
def stratified_sample_portable(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-language stratified sample: keep a doc iff
    its md5-derived uniform (top-32-bits / 2^32 — exact in a double on
    any engine, plans/llm3.py::_md5_uniform) falls under the
    language's target fraction.  Upgrades the sampling family from
    rows-only (stratified_sample's seeded Bernoulli is Spark-
    internal) to hash-verified, and is what a real pipeline wants
    anyway: re-running the sample on a grown corpus keeps every
    previously-selected doc (the hash is per-doc, not per-run), so
    downstream caches stay valid.  Scale: map-only — one hash and one
    compare per row, no shuffle at all."""
    from .llm3 import _md5_uniform

    docs = t(spark, sf, "documents")
    frac = None
    for lang, f_ in _STRAT_FRACS.items():
        cond = F.when(F.col("lang") == lang, F.lit(f_))
        frac = cond if frac is None else frac.when(
            F.col("lang") == lang, F.lit(f_)
        )
    frac = frac.otherwise(F.lit(1.0))
    return docs.filter(
        _md5_uniform("strat", F.col("doc_id")) < frac
    ).select("doc_id", "lang")


_PANN_BITS = 8  # portable ANN signature floor (auto grows to 24)
_PANN_BITS_CAP = 24  # 2j+1 index stays < 48 < dim at the cap
_PANN_K = 3  # neighbors per query
_PANN_NQ = 10  # query set: vec_id < 10 (same as ann_lsh_topk)


def _pann_auto_bits(n: int) -> int:
    return max(_PANN_BITS, min(_PANN_BITS_CAP, (max(n, 1) // 64).bit_length()))


def _pann_oracle() -> str:
    # bits 8..23 gate on the corpus-scaled width (nb CTE), exactly
    # like the banded dedup oracle — same integer thresholds as
    # _pann_auto_bits, different clamp [8, 24]
    bucket_terms = " + ".join(
        (
            f"(CASE WHEN CAST(embedding[{2 * j + 1}] AS DOUBLE)"
            f" - CAST(embedding[{2 * j + 2}] AS DOUBLE) > 0"
            f" THEN {1 << j} ELSE 0 END)"
            if j < _PANN_BITS
            else (
                f"(CASE WHEN {j} < nb.bits AND"
                f" CAST(embedding[{2 * j + 1}] AS DOUBLE)"
                f" - CAST(embedding[{2 * j + 2}] AS DOUBLE) > 0"
                f" THEN {1 << j} ELSE 0 END)"
            )
        )
        for j in range(_PANN_BITS_CAP)
    )
    return f"""
    WITH nb AS ({_emb_lsh_bits_sql(_PANN_BITS, _PANN_BITS_CAP)}),
    sig AS (
      SELECT vec_id, CAST({bucket_terms} AS BIGINT) AS bucket
      FROM embeddings CROSS JOIN nb),
    pos AS (
      SELECT vec_id, i - 1 AS i,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e4 + 0.5)
                  AS BIGINT) AS qx
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
    nrm AS (SELECT vec_id, CAST(sum(qx * qx) AS BIGINT) AS nn
            FROM pos GROUP BY vec_id),
    cand AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id
      FROM sig q JOIN sig v
        ON q.bucket = v.bucket AND v.vec_id <> q.vec_id
      WHERE q.vec_id < {_PANN_NQ}),
    dots AS (
      SELECT c.query_id, c.neighbor_id, CAST(sum(a.qx * b.qx) AS BIGINT)
               AS dot
      FROM cand c
      JOIN pos a ON a.vec_id = c.query_id
      JOIN pos b ON b.vec_id = c.neighbor_id AND b.i = a.i
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(floor(CAST(dot AS DOUBLE)
                        / (sqrt(CAST(na.nn AS DOUBLE))
                           * sqrt(CAST(nb.nn AS DOUBLE))) * 1e6)
                  AS BIGINT) AS cos_e6
      FROM dots
      JOIN nrm na ON na.vec_id = query_id
      JOIN nrm nb ON nb.vec_id = neighbor_id)
    SELECT query_id, neighbor_id, cos_e6 FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_e6 DESC, neighbor_id) AS rn
      FROM scored)
    WHERE rn <= {_PANN_K}
    """


@query("ann_lsh_topk_portable", oracle=_pann_oracle())
def ann_lsh_topk_portable(spark: SparkSession, sf: str) -> DataFrame:
    """ANN with a fully ORACLE-CHECKED pipeline — the hash-verified
    twin of ann_lsh_topk (whose seeded-numpy hyperplanes are
    engine-internal): the CORPUS-SCALED signature
    (bit_length(count/64) clamped to [8, 24] — so the bucket space
    tracks the corpus and within-bucket rerank cost stays ~constant,
    matching the production twin's auto width) uses deterministic
    coordinate-DIFFERENCE hyperplanes sign(x[2j] − x[2j+1]) — a valid
    cosine-LSH family needing no stored planes (same trick as
    embedding_band_buckets' auto mode; the oracle's nb CTE computes
    the identical width from count(*)) — and the within-bucket
    rerank is an exact INTEGER-quantized cosine (dot and norms as
    int64 sums of 1e4-tick products; the only doubles are one
    division and two sqrts over identical integers on both engines).
    Scale shape identical to the production query: shuffle both
    sides on the bucket key, exact rerank only inside the query's
    bucket, top-k by (cos, id) window per query — no cross join, no
    stored model state."""
    emb = t(spark, sf, "embeddings")
    bits = _pann_auto_bits(emb.count())
    qarr = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1e4 + F.lit(0.5)).cast("long"),
    )
    bucket = None
    for j in range(bits):
        b = (
            F.col("embedding")[2 * j].cast("double")
            - F.col("embedding")[2 * j + 1].cast("double")
            > 0
        ).cast("long") * (1 << j)
        bucket = b if bucket is None else bucket + b
    nn = F.aggregate(
        F.transform(F.col("q"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    tagged = emb.select(
        "vec_id", qarr.alias("q"), bucket.alias("bucket")
    ).withColumn("nn", nn)
    qs = tagged.filter(F.col("vec_id") < _PANN_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qa"),
        F.col("nn").alias("na"),
        "bucket",
    )
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("q"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos_e6 = F.floor(
        dot.cast("double")
        / (
            F.sqrt(F.col("na").cast("double"))
            * F.sqrt(F.col("nn").cast("double"))
        )
        * 1e6
    ).cast("long")
    scored = (
        tagged.join(qs, "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos_e6.alias("cos_e6"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cos_e6"), "neighbor_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PANN_K)
        .drop("rn")
    )


_AUDIT_SAMPLE = 128  # audit panel: constant size at any corpus scale
_AUDIT_DF_CAP = 64  # posting-list cap for the exact panel-x-corpus join


def _mh_audit_oracle() -> str:
    from .llm3 import _md5_u32_sql

    sig_cols = ",\n             ".join(
        f"min({_md5_u32_sql(str(i), 's')}) AS m{i}" for i in range(_PMH_N)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, "
        f"concat(CAST(m{2 * b} AS VARCHAR), ':', "
        f"CAST(m{2 * b + 1} AS VARCHAR)) AS bucket FROM sig"
        for b in range(_PMH_BANDS)
    )
    jac = (
        "CAST(floor(len(list_intersect(x.hs, y.hs))"
        " / CAST(len(x.hs) + len(y.hs)"
        " - len(list_intersect(x.hs, y.hs)) AS DOUBLE)"
        " * 1e6) AS BIGINT)"
    )
    return f"""
    WITH smp AS MATERIALIZED (
      SELECT doc_id FROM documents
      ORDER BY {_md5_u32_sql('audit', 'doc_id')}, doc_id
      LIMIT {_AUDIT_SAMPLE}),
    toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '')
               AS ws
      FROM documents),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ws) - 1),
                      i -> array_to_string(ws[i:i + 2], ' '))) AS s
        FROM toks WHERE len(ws) >= 3)),
    sig AS MATERIALIZED (
      SELECT doc_id,
             list(DISTINCT {_md5_u32_sql('J', 's')}) AS hs,
             {sig_cols}
      FROM sh GROUP BY doc_id),
    psh AS (SELECT sh.doc_id, sh.s FROM sh JOIN smp USING (doc_id)),
    dfc AS (SELECT s FROM sh GROUP BY s
            HAVING count(*) <= {_AUDIT_DF_CAP}),
    csh AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfc USING (s)),
    tp0 AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                      greatest(a.doc_id, b.doc_id) AS doc_b
      FROM psh a JOIN csh b ON a.s = b.s AND a.doc_id <> b.doc_id),
    truep AS MATERIALIZED (
      SELECT t.doc_a, t.doc_b
      FROM tp0 t
      JOIN sig x ON x.doc_id = t.doc_a
      JOIN sig y ON y.doc_id = t.doc_b
      WHERE {jac} >= {_PMH_TAU_E6}),
    bands AS (
      {band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id),
    candi AS MATERIALIZED (
      SELECT DISTINCT c.doc_a, c.doc_b FROM (
        SELECT c.doc_a, c.doc_b FROM cand c
        JOIN smp p ON c.doc_a = p.doc_id
        UNION ALL
        SELECT c.doc_a, c.doc_b FROM cand c
        JOIN smp p ON c.doc_b = p.doc_id) c),
    ns AS (SELECT count(*) AS n_sample FROM sig JOIN smp USING (doc_id)),
    tc AS (SELECT count(*) AS true_pairs FROM truep),
    cc AS (SELECT count(*) AS cand_pairs FROM candi),
    tpc AS (
      SELECT count(*) AS tp
      FROM truep t JOIN candi c
        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
    SELECT CAST(ns.n_sample AS BIGINT) AS n_sample,
           CAST(tc.true_pairs AS BIGINT) AS true_pairs,
           CAST(cc.cand_pairs AS BIGINT) AS cand_pairs,
           CAST(tpc.tp AS BIGINT) AS tp,
           CAST(cc.cand_pairs - tpc.tp AS BIGINT) AS fp,
           CAST(tc.true_pairs - tpc.tp AS BIGINT) AS fn,
           CAST(CASE WHEN tc.true_pairs = 0 THEN 0
                ELSE (tpc.tp * 1000000) // tc.true_pairs
                END AS BIGINT) AS recall_e6,
           CAST(CASE WHEN cc.cand_pairs = 0 THEN 0
                ELSE (tpc.tp * 1000000) // cc.cand_pairs
                END AS BIGINT) AS precision_e6
    FROM ns CROSS JOIN tc CROSS JOIN cc CROSS JOIN tpc
    """


@query(
    "minhash_recall_audit",
    oracle=_mh_audit_oracle(),
)
def minhash_recall_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-quality audit of the MinHash-LSH configuration: ground
    truth is every near-dup pair with AT LEAST ONE endpoint in a
    constant 128-document panel (the docs with the smallest
    md5('audit') rank — a TakeOrdered, so the panel is deterministic
    and audit cost is fixed at any corpus size), found EXACTLY via a
    df-capped shingle posting-list join (panel shingles x corpus
    posting lists — linear in corpus, never all-pairs; a pair whose
    every shared shingle is hotter than the cap is unenumerable at
    bounded cost on any engine, identically on both sides) and
    verified with the same exact-Jaccard-over-hashed-sets test as
    production.  Those truths are compared against the PRODUCTION
    LSH band candidates (the exact `_pmh_candidates` helper the
    dedup query ships) restricted to panel-incident pairs: tp, fp
    (candidates that fail verification — wasted verify work), fn
    (true pairs the banding missed — the recall loss), and recall /
    precision in e6 ticks.  This is the measurement that justifies a
    band/row configuration; a platform re-runs it whenever
    _PMH_BANDS is retuned.

    Scale: panel-incident truth discovery is panel-size x df-cap
    bounded; the candidate restriction is two broadcast semi-joins
    against the 128-row panel; signatures and banding are the one
    production corpus pass."""
    from .llm3 import _md5_u32

    docs = t(spark, sf, "documents")
    smp = (
        docs.select(
            "doc_id", _md5_u32("audit", F.col("doc_id")).alias("r")
        )
        .orderBy("r", "doc_id")
        .limit(_AUDIT_SAMPLE)
        .select("doc_id")
    )
    sh = (
        docs.select("doc_id", _shingles("text", 3).alias("shingles"))
        .filter(F.size("shingles") > 0)
        .select("doc_id", F.explode("shingles").alias("s"))
        .distinct()
        .persist()
    )
    sig = sh.groupBy("doc_id").agg(
        F.collect_set(_md5_u32("J", F.col("s"))).alias("hs"),
        *[
            F.min(_md5_u32(str(i), F.col("s"))).alias(f"m{i}")
            for i in range(_PMH_N)
        ],
    ).persist()
    psh = sh.join(F.broadcast(smp), "doc_id")
    dfc = sh.groupBy("s").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") <= _AUDIT_DF_CAP
    ).select("s")
    csh = sh.join(dfc, "s").select("doc_id", "s")
    tp0 = (
        psh.select(F.col("doc_id").alias("da"), "s")
        .join(
            csh.select(F.col("doc_id").alias("db"), "s"), "s"
        )
        .filter(F.col("da") != F.col("db"))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
        )
        .distinct()
    )
    truep = (
        pair_sides(tp0, sig.select("doc_id", "hs"), "doc_id", "doc_a", "doc_b")
        .filter(jaccard_e6("hs_a", "hs_b") >= _PMH_TAU_E6)
        .select("doc_a", "doc_b")
    )
    cand = _pmh_candidates(sig)
    candi = (
        cand.join(
            F.broadcast(smp.select(F.col("doc_id").alias("doc_a"))),
            "doc_a",
        )
        .select("doc_a", "doc_b")
        .unionByName(
            cand.join(
                F.broadcast(smp.select(F.col("doc_id").alias("doc_b"))),
                "doc_b",
            ).select("doc_a", "doc_b")
        )
        .distinct()
    )
    ns = sig.join(F.broadcast(smp), "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sample")
    )
    tc = truep.agg(F.count(F.lit(1)).cast("long").alias("true_pairs"))
    cc = candi.agg(F.count(F.lit(1)).cast("long").alias("cand_pairs"))
    tpc = truep.join(candi, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("tp")
    )
    out = (
        ns.crossJoin(F.broadcast(tc))
        .crossJoin(F.broadcast(cc))
        .crossJoin(F.broadcast(tpc))
    )
    return out.select(
        "n_sample",
        "true_pairs",
        "cand_pairs",
        "tp",
        (F.col("cand_pairs") - F.col("tp")).cast("long").alias("fp"),
        (F.col("true_pairs") - F.col("tp")).cast("long").alias("fn"),
        F.when(F.col("true_pairs") == 0, F.lit(0))
        .otherwise(F.expr("(tp * 1000000) div true_pairs"))
        .cast("long")
        .alias("recall_e6"),
        F.when(F.col("cand_pairs") == 0, F.lit(0))
        .otherwise(F.expr("(tp * 1000000) div cand_pairs"))
        .cast("long")
        .alias("precision_e6"),
    )


# --------------------------------------------------------------------------
# Class-pair text near-dup — the 100 TB shape of the minhash / simhash /
# jaccard families (VERDICT r12 task 8)
# --------------------------------------------------------------------------
#
# The doc-pair text near-dup queries (dedup_minhash_lsh/_portable,
# dedup_simhash/_portable, dedup_ngram_jaccard,
# set_similarity_prefix_join) are excluded from the 100x replica sweep
# for the same reason dedup_phash_images is: a replicated corpus is an
# exact-duplicate storm, the true DOC-pair set grows quadratically in
# the duplication factor, and no blocking can shrink an output that
# size (SCALE.md §9x).  The scale answer — proven for the image/audio/
# video families by dedup_*_classes — is to stop materializing it:
# collapse the corpus into equivalence classes FIRST (one shuffle,
# class count bounded by the distinct-content population, not the
# corpus), pair only the distinct classes, and carry multiplicities.
# These three queries give each excluded text family that covering
# variant, with full DuckDB oracles, so the 100x ledger's exclusions
# all map to a hash-green same-shape query.


def _psh_classes_oracle() -> str:
    """Distinct-signature SimHash class pairs, with candidates from the
    same 4x4-bit Hamming banding the Spark plan uses: two 16-bit
    signatures within Hamming 3 agree on at least one of the four
    4-bit blocks (pigeonhole), so the banded candidates hold every
    true pair while staying bounded by the distinct-signature
    population (|classes|^2 all-pairs is what a dense replica
    signature space would cost)."""
    bands = "\n      UNION ALL\n      ".join(
        f"SELECT sig, {b} AS band, (sig // {1 << (4 * b)}) % 16 AS val "
        "FROM cls"
        for b in range(4)
    )
    return f"""{_psh_sig_sql()},
    cls AS MATERIALIZED (
      SELECT sig, count(*) AS n, min(doc_id) AS rep
      FROM sig GROUP BY sig),
    bands AS (
      {bands}),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.val = b.val AND a.sig < b.sig
      WHERE bit_count(xor(a.sig, b.sig)) <= {_PSH_HAM})
    SELECT CAST(a.sig AS BIGINT) AS ph_a, CAST(b.sig AS BIGINT) AS ph_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           CAST(a.rep AS BIGINT) AS rep_a, CAST(b.rep AS BIGINT) AS rep_b,
           CAST(a.n * b.n AS BIGINT) AS n_asset_pairs
    FROM cand c
    JOIN cls a ON a.sig = c.sig_a
    JOIN cls b ON b.sig = c.sig_b
    """


@query(
    "dedup_simhash_classes",
    oracle=_psh_classes_oracle(),
)
def dedup_simhash_classes(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup CLASS pairs: the portable 16-bit md5
    bit-majority signature (psh_signatures, bit-identical to
    dedup_simhash_portable's), collapsed to distinct-signature classes
    and Hamming-banded with mmq's shared class-pair kernel
    (_hash_class_pairs: 4 blocks of sig_bits/4, pigeonhole-complete
    for ham <= 3, candidate stage bounded by the distinct-signature
    population — <= 2^16 here at ANY corpus size).  Unlike the
    doc-pair portable twin, no bucket cap is needed: degenerate
    content floods a CLASS's member count, never the banding buckets,
    because banding only ever sees each signature once.  This is the
    covering variant that keeps the simhash family 100x-sweepable
    (SCALE.md §9x: the doc-pair form is excluded because exact
    replicas explode the true pair set quadratically; classes
    saturate instead)."""
    from .mmq import _hash_class_pairs

    ws = _tokens("text", lowercase=True)
    docs = (
        t(spark, sf, "documents")
        .select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") > 0)
    )
    sig = psh_signatures(docs).select(
        F.col("doc_id").alias("asset_id"), F.col("sig").alias("ph")
    )
    return _hash_class_pairs(sig, bits=_PSH_BITS, ham=_PSH_HAM)


def _pmh_classes_oracle() -> str:
    """Distinct-signature MinHash class pairs.  Banding IS part of the
    semantics here (minhash banding is recall-gated, not pigeonhole-
    complete), so the oracle reproduces the 4 bands of 2 at the class
    level exactly as _pmh_oracle does at the doc level, then verifies
    exact Jaccard between the class representatives' hashed shingle
    sets."""
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT rep, {b} AS band, "
        f"concat(CAST(m{2 * b} AS VARCHAR), ':', "
        f"CAST(m{2 * b + 1} AS VARCHAR)) AS bucket FROM cls"
        for b in range(_PMH_BANDS)
    )
    mcols = ", ".join(f"m{i}" for i in range(_PMH_N))
    jac = (
        "CAST(floor(len(list_intersect(x.hs, y.hs))"
        " / CAST(len(x.hs) + len(y.hs)"
        " - len(list_intersect(x.hs, y.hs)) AS DOUBLE)"
        " * 1e6) AS BIGINT)"
    )
    return f"""{_pmh_sig_sql()},
    cls AS MATERIALIZED (
      SELECT {mcols}, count(*) AS n, min(doc_id) AS rep
      FROM sig GROUP BY {mcols}),
    bands AS (
      {band_selects}),
    cand AS (
      SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.rep < b.rep)
    SELECT CAST(rep_a AS BIGINT) AS rep_a, CAST(rep_b AS BIGINT) AS rep_b,
           {jac} AS jac_e6,
           CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
           CAST(ca.n * cb.n AS BIGINT) AS n_doc_pairs
    FROM cand
    JOIN cls ca ON ca.rep = rep_a
    JOIN cls cb ON cb.rep = rep_b
    JOIN sig x ON x.doc_id = rep_a
    JOIN sig y ON y.doc_id = rep_b
    WHERE {jac} >= {_PMH_TAU_E6}
    """


@query(
    "dedup_minhash_classes",
    oracle=_pmh_classes_oracle(),
)
def dedup_minhash_classes(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup CLASS pairs: the portable 8-permutation
    signature (_pmh_signatures, bit-identical to
    dedup_minhash_portable's), collapsed to distinct-SIGNATURE classes
    — every exact duplicate (and every sig-colliding near-exact
    duplicate) lands in one class, so the banding and the verify stage
    see each signature once regardless of corpus duplication.  The
    class exemplar is the min-doc_id representative; verification is
    exact Jaccard between the representatives' hashed shingle sets
    (deterministic: rep choice is a min, and Jaccard is
    order-insensitive in the sets).  Output carries the class sizes
    and n_doc_pairs = n_a*n_b, everything downstream dedup needs
    without materializing the quadratic doc-pair set — the covering
    variant that keeps the minhash family 100x-sweepable (SCALE.md
    §9x)."""
    grouped = _pmh_signatures(t(spark, sf, "documents"))
    mcols = [f"m{i}" for i in range(_PMH_N)]
    # min(struct(doc_id, hs)) picks the representative AND its shingle
    # set in one aggregate (doc_id is unique, so the array field never
    # drives the comparison) — no join-back to the doc table
    cls = (
        grouped.groupBy(*mcols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(
                F.struct(F.col("doc_id").alias("d"), F.col("hs").alias("h"))
            ).alias("r"),
        )
        .select(
            *mcols,
            "n",
            F.col("r.d").alias("rep"),
            F.col("r.h").alias("hs"),
        )
        .persist()
    )
    # both self-join sides read the persisted cls cache
    cand = bucket_pairs(
        band_buckets(cls, ["rep"], _pmh_class_bands()), "rep", "rep_a", "rep_b"
    )
    joined = pair_sides(
        cand, F.broadcast(cls.select("rep", "n", "hs")), "rep", "rep_a", "rep_b"
    )
    return joined.select(
        F.col("rep_a").cast("long"),
        F.col("rep_b").cast("long"),
        jaccard_e6("hs_a", "hs_b").alias("jac_e6"),
        F.col("n_a").cast("long"),
        F.col("n_b").cast("long"),
        (F.col("n_a") * F.col("n_b")).cast("long").alias("n_doc_pairs"),
    ).filter(F.col("jac_e6") >= _PMH_TAU_E6)


_JC_TAU_E6 = 500_000  # exact-Jaccard class-pair threshold, 1e-6 ticks


def _jac_classes_oracle() -> str:
    """Distinct shingle-set class pairs with exact Jaccard >= tau,
    with candidates from the same prefix filter the Spark plan uses:
    two sets with Jaccard >= tau must share an element within each
    side's first |s| - ceil(tau*|s|) + 1 elements under any global
    canonical order (Bayardo et al., WWW'07), so the prefix-sharing
    candidates hold every true pair.  All-pairs would be |classes|^2
    list_intersects at a replica scale; the prefix-filtered form is
    bounded by classes per shared prefix element, the same bound the
    Spark side carries.  No CTE is MATERIALIZED: ``cls`` runs three
    times inlined (within the discipline's bound), and DuckDB has no
    row estimate for a materialized CTE, so it built the join hash
    table on the candidates instead of the classes (2.3x slower at
    sf0.1)."""
    from .llm3 import _md5_u32_sql

    jac = (
        "CAST(floor(len(list_intersect(a.hss, b.hss))"
        " / CAST(len(a.hss) + len(b.hss)"
        " - len(list_intersect(a.hss, b.hss)) AS DOUBLE)"
        " * 1e6) AS BIGINT)"
    )

    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ws) - 1),
                      i -> array_to_string(ws[i:i + 2], ' '))) AS s
        FROM toks WHERE len(ws) >= 3)),
    sets AS (
      SELECT doc_id,
             list_sort(list(DISTINCT {_md5_u32_sql('J', 's')})) AS hss
      FROM sh GROUP BY doc_id),
    cls AS (
      SELECT hss, count(*) AS n, min(doc_id) AS rep
      FROM sets GROUP BY hss),
    pref AS (
      SELECT rep,
             unnest(hss[1:CAST(len(hss)
               - ((len(hss) * {_JC_TAU_E6} + 999999) // 1000000) + 1
               AS BIGINT)]) AS h
      FROM cls),
    cand AS (
      SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b
      FROM pref a JOIN pref b ON a.h = b.h AND a.rep < b.rep)
    SELECT CAST(a.rep AS BIGINT) AS rep_a, CAST(b.rep AS BIGINT) AS rep_b,
           {jac} AS jac_e6,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           CAST(a.n * b.n AS BIGINT) AS n_doc_pairs
    FROM cand c
    JOIN cls a ON a.rep = c.rep_a
    JOIN cls b ON b.rep = c.rep_b
    WHERE {jac} >= {_JC_TAU_E6}
    """


@query(
    "dedup_jaccard_classes",
    oracle=_jac_classes_oracle(),
)
def dedup_jaccard_classes(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup CLASS pairs with prefix-filter
    candidate generation — the covering variant for
    dedup_ngram_jaccard and set_similarity_prefix_join's shape at
    100x (SCALE.md §9e/§9f: their doc-pair truths are quadratic on a
    replicated corpus; distinct shingle-SET classes saturate).

    Classes are distinct hashed-3-gram-shingle sets, so every exact
    duplicate collapses before any pairing.  Candidates come from the
    classic prefix filter (Bayardo et al., WWW'07): under the
    canonical ascending-hash order, a pair with Jaccard >= tau must
    share an element within each side's first
    |s| - ceil(tau*|s|) + 1 elements, so only those prefixes enter
    the inverted index; the index fan-out is bounded by classes per
    shingle, never corpus size.  Verification is exact set Jaccard
    via array_intersect over the full sorted sets (broadcast of the
    class table — bounded by distinct content).  Prefix length uses
    pure integer arithmetic (ceil(tau*n) = (n*tau_e6 + 999999) div
    1e6) so Spark and DuckDB agree bit-for-bit at any set size."""
    from .llm3 import _md5_u32

    # spread before the per-shingle hashing explode: the corpus
    # arrives as one scan split at bench scale and would hash on a
    # single core (guide §2.5; no-op on an already-parallel scan)
    sh = spread(t(spark, sf, "documents").select("doc_id", "text")).select(
        "doc_id", _shingles("text", 3).alias("shingles")
    ).filter(F.size("shingles") > 0)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    sets = ex.groupBy("doc_id").agg(
        F.sort_array(F.collect_set(_md5_u32("J", F.col("s")))).alias("hss")
    )
    cls = (
        sets.groupBy("hss")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("rep"))
        .persist()
    )
    plen = F.expr(
        f"size(hss) - ((size(hss) * {_JC_TAU_E6}L + 999999) div 1000000) + 1"
    )
    pref = cls.select(
        "rep", F.explode(F.slice(F.col("hss"), F.lit(1), plen)).alias("h")
    ).persist()
    cand = bucket_pairs(pref, "rep", "rep_a", "rep_b", on=("h",))
    joined = pair_sides(cand, F.broadcast(cls), "rep", "rep_a", "rep_b")
    return joined.select(
        F.col("rep_a").cast("long"),
        F.col("rep_b").cast("long"),
        jaccard_e6("hss_a", "hss_b").alias("jac_e6"),
        F.col("n_a").cast("long"),
        F.col("n_b").cast("long"),
        (F.col("n_a") * F.col("n_b")).cast("long").alias("n_doc_pairs"),
    ).filter(F.col("jac_e6") >= _JC_TAU_E6)


def psh_distinct_block_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """(ph, band, bucket) over DISTINCT 16-bit SimHash signatures —
    the candidate stage of dedup_simhash_classes, exposed for the
    pair-growth audit (the phash_distinct_block_buckets pattern:
    the signature space bounds the class population, so the row
    should saturate as the corpus grows)."""
    ws = _tokens("text", lowercase=True)
    docs = (
        t(spark, sf, "documents")
        .select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") > 0)
    )
    from .mmq import phash_distinct_block_buckets

    cls = psh_signatures(docs).select(F.col("sig").alias("ph")).distinct()
    return phash_distinct_block_buckets(cls, _PSH_BITS)


def _pmh_class_bands() -> list[F.Column]:
    """The class-family band keys: permutation pairs (m2b, m2b+1) as
    structs."""
    return [
        F.struct(
            F.col(f"m{2 * b}").alias("x"), F.col(f"m{2 * b + 1}").alias("y")
        )
        for b in range(_PMH_BANDS)
    ]


def pmh_class_band_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """(rep, band, bucket) over distinct MinHash-signature classes —
    the candidate stage of dedup_minhash_classes, exposed for the
    pair-growth audit.  On the suffix-perturbed replica fixture the
    class population (and the TRUE class-pair answer) grows with
    replication by construction; the audit's value is the measured
    buckets-per-class discipline, not a flat alpha (SCALE.md §15d)."""
    grouped = _pmh_signatures(t(spark, sf, "documents"))
    cls = grouped.groupBy(*[f"m{i}" for i in range(_PMH_N)]).agg(
        F.min("doc_id").alias("rep")
    )
    return band_buckets(cls, ["rep"], _pmh_class_bands())


def jc_class_prefix_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """(rep, h) prefix-element buckets over distinct shingle-set
    classes — the candidate stage of dedup_jaccard_classes, exposed
    for the pair-growth audit (same replica caveat as
    pmh_class_band_buckets)."""
    from .llm3 import _md5_u32

    sh = t(spark, sf, "documents").select(
        "doc_id", _shingles("text", 3).alias("shingles")
    ).filter(F.size("shingles") > 0)
    sets = sh.select("doc_id", F.explode("shingles").alias("s")).groupBy(
        "doc_id"
    ).agg(F.sort_array(F.collect_set(_md5_u32("J", F.col("s")))).alias("hss"))
    cls = sets.groupBy("hss").agg(F.min("doc_id").alias("rep"))
    plen = F.expr(
        f"size(hss) - ((size(hss) * {_JC_TAU_E6}L + 999999) div 1000000) + 1"
    )
    return cls.select(
        "rep", F.explode(F.slice(F.col("hss"), F.lit(1), plen)).alias("h")
    )
