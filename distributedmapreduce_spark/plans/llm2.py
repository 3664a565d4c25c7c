"""Similarity-search extensions: kNN classification over embeddings
and TF-IDF document ranking (the retrieval-ish workloads an
LLM-data pipeline runs next to dedup)."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..functions.vector import cosine as _cosine
from ..operators.index_store import cached_index
from .core import query, t


@query(
    "knn_classify",
    oracle="""
    WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 20),
    corpus AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 20),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label, c.label AS neighbor_label,
             c.vec_id AS neighbor_id,
             list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))
               AS cosine
      FROM q JOIN corpus c ON true),
    top5 AS (
      SELECT query_id, true_label, neighbor_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM scored) WHERE rn <= 5),
    votes AS (
      SELECT query_id, true_label, neighbor_label, count(*) AS votes
      FROM top5 GROUP BY query_id, true_label, neighbor_label)
    SELECT query_id, true_label, neighbor_label AS predicted_label FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY votes DESC, neighbor_label) AS rn
      FROM votes) WHERE rn = 1
    """,
)
def knn_classify(spark: SparkSession, sf: str) -> DataFrame:
    """5-NN majority-vote label prediction for query vectors
    (vec_id < 20) against the rest of the corpus; ties broken by
    smallest label.  Query side broadcast — corpus never shuffles."""
    emb = t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_emb"),
    )
    corpus = emb.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        "embedding",
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "true_label",
        "neighbor_label",
        "neighbor_id",
        _cosine(F.col("q_emb"), F.col("embedding")).alias("cosine"),
    )
    w_rank = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    top5 = scored.withColumn("rn", F.row_number().over(w_rank)).filter(
        F.col("rn") <= 5
    )
    votes = top5.groupBy("query_id", "true_label", "neighbor_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w_vote = W.partitionBy("query_id").orderBy(
        F.desc("votes"), "neighbor_label"
    )
    return (
        votes.withColumn("rn", F.row_number().over(w_vote))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("neighbor_label").alias("predicted_label"),
        )
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tf AS (
      SELECT doc_id, word, count(*) AS tf
      FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' GROUP BY doc_id, word),
    df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY word),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, word,
           round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf, rn
    FROM (
      SELECT tf.doc_id, tf.word,
             tf.tf, df.df, n.n_docs,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) DESC,
                                         tf.word) AS rn
      FROM tf JOIN df USING (word) CROSS JOIN n)
    WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms.  ONE corpus scan (VERDICT r04
    §wrong-1): the term stream is explicitly repartitioned by ``word``
    BEFORE the tf aggregate — hashpartitioning(word) satisfies the
    clustered-distribution requirement of both the (doc_id, word) tf
    groupBy and the downstream word-level df groupBy, so the two
    branches hang off ONE exchange and Spark's ReusedExchange serves
    the df branch from the shuffled term stream instead of re-scanning
    + re-exploding the corpus (previously: 2 FileScans, different
    partition keys, reuse never fired).  At 100 TB that is the
    difference between one and two full corpus passes."""
    docs = t(spark, sf, "documents")
    words = docs.select(
        "doc_id",
        F.explode(tokens("text")).alias("word"),
    ).repartition("word")
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # tf rows are unique per (doc_id, word), so document frequency is a
    # plain count — countDistinct here would add an Expand+2 aggregates
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()  # parquet footer count — metadata-only action
    tfidf = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    w = W.partitionBy("doc_id").orderBy(F.desc(tfidf), "word")
    return (
        tf.join(F.broadcast(df), "word")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", F.round(tfidf, 6).alias("tfidf"), "rn")
    )


@query("ann_ivf_topk", oracle=None)  # float reduction order -> rows-only
def ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF approximate NN: corpus-scaled K ≈ count/128 inverted lists
    (16-list floor) probed at nprobe = max(4, ⌊√K⌋), with the index
    PERSISTED between runs (operators/index_store.py — K is part of
    the index fingerprint, so a corpus-size change rebuilds it).

    Index build (first run per corpus fingerprint only): deterministic
    seed centroids (the K lowest vec_ids), one Lloyd refinement (numpy
    argmax assignment, component-wise re-average with 6dp rounding
    against reduction-order jitter); then every corpus vector is
    assigned to its list and the (vec_id, embedding) table is written
    partitioned by cluster.  Cluster assignment is an Arrow-batched
    pandas UDF doing one (batch x dim) @ (dim x K) matmul — numpy
    beats the builtin array HOFs, which run interpreted per element.

    Search (every run): read the K x dim centroid table, pick each
    query's nprobe nearest lists driver-side, and scan ONLY those
    partitions of the assignment table (partition pruning on the index
    read — at 100 TB a search touches nprobe/K of the index, never the
    corpus).  Exact cosine runs inside the probed lists only,
    einsum-vectorized per Arrow batch.  Same output schema as
    cosine_topk_bruteforce so recall is directly comparable."""
    import numpy as np

    emb = t(spark, sf, "embeddings").select("vec_id", "embedding")
    # corpus-scaled lists + probes (r07): K ≈ count/128 with a
    # 16-list floor (the legacy fixture value — sf0.01 output is
    # unchanged) and nprobe = max(4, ⌊√K⌋), the same cost/recall
    # shape as ann_ivfpq_topk
    import math

    n_vec = emb.count()
    k_lists = max(16, min(4096, n_vec // 128))
    n_probe, top_k = max(4, math.isqrt(k_lists)), 5
    src = os.path.join(sf, "embeddings.parquet")

    def _unit(m: "np.ndarray") -> "np.ndarray":
        # zero-norm guard: a centroid whose cluster lost every member
        # in the Lloyd refinement stays all-zero; dividing by its norm
        # would yield a NaN row, and argmax over a matrix with a NaN
        # column assigns EVERY vector to the dead cluster (silent
        # index corruption at any K, and auto-K seeds up to 4096
        # clusters).  Keeping the row at zero instead leaves its
        # similarity at 0, and assign_udf masks it to -inf below.
        n = np.linalg.norm(m, axis=1, keepdims=True)
        return m / np.where(n == 0.0, 1.0, n)

    def assign_udf(centroids: "np.ndarray"):
        cn = _unit(centroids)
        dead = np.linalg.norm(centroids, axis=1) == 0.0

        @F.pandas_udf("int")
        def assign(col: pd.Series) -> pd.Series:
            m = _unit(np.vstack(col.to_numpy()))
            sims = m @ cn.T
            if dead.any():
                sims[:, dead] = -np.inf
            return pd.Series(np.argmax(sims, axis=1).astype("int32"))

        return assign

    def _build_centroids() -> DataFrame:
        seed_rows = (
            emb.filter(F.col("vec_id") < k_lists)
            .select("vec_id", "embedding")
            .collect()
        )
        c0 = np.array(
            [r.embedding for r in sorted(seed_rows, key=lambda r: r.vec_id)],
            dtype="float64",
        )
        # one Lloyd iteration; the (cluster, pos) partial aggregate
        # keeps the shuffle at K*dim rows regardless of corpus size
        assigned0 = emb.withColumn("cluster", assign_udf(c0)("embedding"))
        refined = (
            assigned0.select(
                "cluster", F.posexplode("embedding").alias("pos", "x")
            )
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .collect()
        )
        c1 = np.zeros_like(c0)
        for r in refined:
            c1[r.cluster, r.pos] = r.m
        return spark.createDataFrame(
            [(int(i), [float(x) for x in c1[i]]) for i in range(k_lists)],
            schema="cluster int, centroid array<double>",
        )

    cent_rows = cached_index(
        spark,
        "ivf16-centroids",
        src,
        _build_centroids,
        params=("k", k_lists, "seed", "lowest-vec-ids", "lloyd", 1),
    ).collect()
    c1 = np.array(
        [r.centroid for r in sorted(cent_rows, key=lambda r: r.cluster)],
        dtype="float64",
    )

    def _build_assignments() -> DataFrame:
        return emb.withColumn("cluster", assign_udf(c1)("embedding"))

    lists = cached_index(
        spark,
        "ivf16-assign",
        src,
        _build_assignments,
        partition_by="cluster",
        params=("k", k_lists, "seed", "lowest-vec-ids", "lloyd", 1),
    )

    # probe the n_probe nearest lists per query (driver-side: the
    # query set is small by contract, like cosine_topk_bruteforce)
    q_rows = emb.filter(F.col("vec_id") < 10).collect()
    c1n = _unit(c1)
    dead_c = np.linalg.norm(c1, axis=1) == 0.0
    probe_rows = []
    for r in q_rows:
        q = np.asarray(r.embedding, dtype="float64")
        # same zero-norm guard as _unit (ADVICE r08): an all-zero
        # query embedding must yield sims of 0 everywhere (arbitrary
        # but deterministic probes), not a NaN row and NaN-ordered
        # argsort.
        qn = np.linalg.norm(q)
        sims = (q / (qn if qn > 0.0 else 1.0)) @ c1n.T
        # never probe a dead (memberless) centroid's empty list
        sims[dead_c] = -np.inf
        for c in np.argsort(-sims)[:n_probe]:
            probe_rows.append((r.vec_id, int(c), [float(x) for x in q]))
    probes = spark.createDataFrame(
        probe_rows, schema="query_id long, cluster int, q_emb array<double>"
    )
    # driver-known probe set -> partition pruning on the index scan
    probed_clusters = sorted({c for _, c, _ in probe_rows})
    lists = lists.filter(F.col("cluster").isin(probed_clusters))

    @F.pandas_udf("double")
    def pair_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        ma, mb = _unit(np.vstack(a.to_numpy())), _unit(np.vstack(b.to_numpy()))
        return pd.Series(np.round(np.einsum("ij,ij->i", ma, mb), 4))

    scored = (
        lists.join(F.broadcast(probes), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            pair_cosine("q_emb", "embedding").alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= top_k
    )


# ---------------------------------------------------------------------------
# Portable (oracle-checked) IVF — deterministic twin of ann_ivf_topk
# ---------------------------------------------------------------------------

_PIVF_K = 8  # coarse-centroid floor (auto grows with the corpus)
_PIVF_K_CAP = 4096
_PIVF_NPROBE = 2  # the k=8 fixture resolution of _pivf_nprobe
_PIVF_TOPK = 3
_PIVF_NQ = 10  # queries: vec_id < 10


def _pivf_k(n: int) -> int:
    """Corpus-scaled list count, twin of the oracle's pk CTE."""
    return max(_PIVF_K, min(_PIVF_K_CAP, n // 128))


def _pivf_nprobe(k: int) -> int:
    import math

    return max(_PIVF_NPROBE, math.isqrt(k))


def _pivf_oracle() -> str:
    from .llm3 import _md5_uniform_sql

    u = _md5_uniform_sql("ivfc", "vec_id")
    kx = "(SELECT k FROM pk)"
    nprobe = f"greatest({_PIVF_NPROBE}, CAST(floor(sqrt({kx})) AS INT))"
    return f"""
    WITH pk AS (
      SELECT greatest({_PIVF_K}, least({_PIVF_K_CAP}, count(*) // 128))
               AS k
      FROM embeddings),
    pos AS MATERIALIZED (
      SELECT vec_id, i - 1 AS i,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e4 + 0.5)
                  AS BIGINT) AS qx
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
    nrm AS MATERIALIZED (SELECT vec_id, CAST(sum(qx * qx) AS BIGINT) AS nn
            FROM pos GROUP BY vec_id),
    cent AS (
      SELECT vec_id AS cid FROM embeddings
      ORDER BY {u}, vec_id LIMIT {kx}),
    cos AS MATERIALIZED (
      SELECT a.vec_id, c.cid,
             CAST(floor(CAST(sum(a.qx * b.qx) AS BIGINT)
                        / (sqrt(CAST(any_value(na.nn) AS DOUBLE))
                           * sqrt(CAST(any_value(nb.nn) AS DOUBLE)))
                        * 1e6) AS BIGINT) AS cos_e6
      FROM pos a
      JOIN cent c ON true
      JOIN pos b ON b.vec_id = c.cid AND b.i = a.i
      JOIN nrm na ON na.vec_id = a.vec_id
      JOIN nrm nb ON nb.vec_id = c.cid
      GROUP BY a.vec_id, c.cid),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos_e6 DESC, cid) AS rn
        FROM cos)
      WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos_e6 DESC, cid) AS rn
        FROM cos WHERE vec_id < {_PIVF_NQ})
      WHERE rn <= {nprobe}),
    cand AS (
      SELECT p.query_id, m.vec_id AS neighbor_id
      FROM probes p JOIN assign m ON m.cid = p.cid
      WHERE m.vec_id <> p.query_id),
    rerank AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(floor(CAST(sum(a.qx * b.qx) AS BIGINT)
                        / (sqrt(CAST(any_value(na.nn) AS DOUBLE))
                           * sqrt(CAST(any_value(nb.nn) AS DOUBLE)))
                        * 1e6) AS BIGINT) AS cos_e6
      FROM cand c
      JOIN pos a ON a.vec_id = c.query_id
      JOIN pos b ON b.vec_id = c.neighbor_id AND b.i = a.i
      JOIN nrm na ON na.vec_id = c.query_id
      JOIN nrm nb ON nb.vec_id = c.neighbor_id
      GROUP BY c.query_id, c.neighbor_id)
    SELECT query_id, neighbor_id, cos_e6 FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_e6 DESC, neighbor_id) AS rn
      FROM rerank)
    WHERE rn <= {_PIVF_TOPK}
    """


@query("ann_ivf_topk_portable", oracle=_pivf_oracle())
def ann_ivf_topk_portable(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN with a fully ORACLE-CHECKED pipeline — hash-verified
    twin of ann_ivf_topk (whose k-means centroids are seeded-numpy
    engine state): the CORPUS-SCALED K ≈ count/128 coarse centroids
    (8-list floor; nprobe = max(2, ⌊√K⌋) — the oracle's pk CTE
    computes the same integers from count(*)) are the K corpus
    vectors with the smallest md5 uniforms (deterministic random
    init — IVF without the Lloyd iterations, which is exactly the
    'IVF-FLAT, random init' baseline), assignment/probing/rerank all
    use the exact integer-quantized cosine of
    ann_lsh_topk_portable.  Scale
    shape identical to the production IVF: assignment is a broadcast
    join against K centroid vectors (linear, map-side); the search
    probes nprobe inverted lists, never the whole corpus; the rerank
    shuffles only probed-list members keyed by centroid id."""
    from .llm3 import _md5_uniform

    emb = t(spark, sf, "embeddings")
    qarr = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1e4 + F.lit(0.5)).cast("long"),
    )
    nn = F.aggregate(
        F.transform(F.col("q"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    k = _pivf_k(emb.count())
    nprobe = _pivf_nprobe(k)
    tagged = emb.select("vec_id", qarr.alias("q")).withColumn("nn", nn)
    cent = (
        tagged.orderBy(_md5_uniform("ivfc", F.col("vec_id")), "vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("q").alias("cq"),
            F.col("nn").alias("cnn"),
        )
    )

    def _cos(qa: str, na: str, qb: str, nb: str) -> F.Column:
        dot = F.aggregate(
            F.zip_with(F.col(qa), F.col(qb), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return F.floor(
            dot.cast("double")
            / (
                F.sqrt(F.col(na).cast("double"))
                * F.sqrt(F.col(nb).cast("double"))
            )
            * 1e6
        ).cast("long")

    cos = (
        tagged.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "q",
            "nn",
            "cid",
            _cos("q", "nn", "cq", "cnn").alias("cos_e6"),
        )
    )
    wv = W.partitionBy("vec_id").orderBy(F.desc("cos_e6"), "cid")
    ranked = cos.withColumn("rn", F.row_number().over(wv))
    assign = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "q", "nn", "cid"
    )
    probes = (
        ranked.filter(
            (F.col("vec_id") < _PIVF_NQ) & (F.col("rn") <= nprobe)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qa"),
            F.col("nn").alias("na"),
            "cid",
        )
    )
    cand = probes.join(assign, "cid").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos("qa", "na", "q", "nn").alias("cos_e6"),
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("cos_e6"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _PIVF_TOPK)
        .drop("rn")
    )


_FH_BUCKETS = 256


def _fh_oracle() -> str:
    from .llm3 import _md5_u32_sql

    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
               str_split(lower(text), ' '), x -> x <> '')) AS w
      FROM documents),
    h AS (
      SELECT w, count(*) AS cnt,
             {_md5_u32_sql('fh', 'w')} % {_FH_BUCKETS} AS bucket
      FROM toks GROUP BY w)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(cnt) AS BIGINT) AS total_count,
           CAST(max(cnt) AS BIGINT) AS max_word_count
    FROM h GROUP BY bucket
    """


@query(
    "feature_hash_stats",
    oracle=_fh_oracle(),
)
def feature_hash_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Hashing-trick featurizer audit: hash every vocabulary word into
    one of 256 feature buckets (the portable md5-u32 family, same as
    every other hash in the repo) and report, per bucket, how many
    DISTINCT words collided into it, their total corpus count, and
    the dominant word's count — the collision profile that tells a
    feature-hashing pipeline whether its dimensionality is losing
    signal (a bucket where max_word_count ≪ total_count is averaging
    unrelated features).

    Scale: one corpus scan → vocab-sized word counts (map-side
    combinable) → a 256-row report; no joins, no windows."""
    from .llm3 import _md5_u32

    toks = t(spark, sf, "documents").select(
        F.explode(tokens("text", lowercase=True)).alias("w")
    )
    h = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).select(
        (_md5_u32("fh", F.col("w")) % _FH_BUCKETS).alias("bucket"),
        "cnt",
    )
    return h.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("cnt").cast("long").alias("total_count"),
        F.max("cnt").cast("long").alias("max_word_count"),
    ).select(
        F.col("bucket").cast("long"),
        "n_words",
        "total_count",
        "max_word_count",
    )
