"""Text-analysis operators over the ``documents`` table — the
reference's text pipeline generalized to a document corpus, plus the
training-data text-quality operators (SURVEY.md §7.6: language ID,
quality scoring, token counting, fingerprinting).

All pure built-in expressions (split / explode / regexp / md5 /
higher-order array functions) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import ngrams, norm_fingerprint, norm_text, tokens
from .core import query, t

_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "on", "for", "with")

# Deterministic marker vocabularies for the n-gram-ish language-ID
# heuristic.  (The synthetic corpus shares one vocabulary across langs,
# so this is a deterministic scoring rule, not a trained model.)
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("customer", "hash", "join", "und", "der", "die"),
    "en": ("the", "order", "table", "window", "and", "of"),
    "es": ("slow", "agg", "merge", "el", "la", "de"),
    "fr": ("scan", "data", "query", "le", "la", "et"),
    "zh": ("join", "small", "row", "de", "shi", "le"),
}


@query(
    "doc_word_count",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(str_split(text, ' ')) AS word FROM documents)
    WHERE word <> '' GROUP BY word
    """,
)
def doc_word_count(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's word-count job (S13) over a document corpus."""
    docs = t(spark, sf, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "doc_inverted_index",
    oracle="""
    SELECT word,
           array_to_string(list(DISTINCT doc_id ORDER BY doc_id), ',') AS postings,
           count(DISTINCT doc_id) AS doc_freq
    FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents)
    WHERE word <> '' GROUP BY word
    """,
)
def doc_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's inverted-index job (S14) generalized: word ->
    sorted posting list of doc_ids (serialized for oracle hashing)."""
    docs = t(spark, sf, "documents")
    # doc_freq = size of the ALREADY-DEDUPED posting set: pairing a
    # countDistinct with collect_set planned an extra distinct phase
    # (Expand + two aggregates) over the full token stream — measured
    # 2.7x slower at sf0.1 for byte-identical output (r05)
    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("s"))
        .select(
            "word",
            F.array_join("s", ",").alias("postings"),
            F.size("s").cast("long").alias("doc_freq"),
        )
    )


_SEG_SIZE = 100  # doc_ids per posting segment


@query(
    "doc_inverted_index_segmented",
    oracle=f"""
    SELECT word,
           doc_id // {_SEG_SIZE} AS segment,
           array_to_string(list(DISTINCT doc_id ORDER BY doc_id), ',') AS postings,
           count(DISTINCT doc_id) AS doc_freq
    FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents)
    WHERE word <> '' GROUP BY word, doc_id // {_SEG_SIZE}
    """,
)
def doc_inverted_index_segmented(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted index with (word, segment) composite keys — the 100 TB
    shape of doc_inverted_index (SCALE.md §2's stop-word mitigation,
    promised there and implemented here).

    The plain index collects ONE posting list per word, so a stop-word
    appearing in every document funnels the whole corpus's doc_ids
    into a single aggregation state on a single task — at sf0.1 the
    hottest word's list is already the full 5k-doc corpus, and at
    100 TB it's billions of entries: unbounded state, one straggler
    task.  Segmenting by doc_id // {_SEG_SIZE} caps EVERY list at
    {_SEG_SIZE} entries by construction, spreads each hot word over
    corpus_size/{_SEG_SIZE} independent reduce keys (no skew, no
    straggler), and keeps lists ordered so a reader can stream
    segments in doc_id order or fetch a range by key — the same
    layout term-sharded search indexes use.  Readers wanting the
    plain list concat segments in segment order; doc_freq per word is
    the sum over segments."""
    docs = t(spark, sf, "documents")
    return (
        docs.select(
            "doc_id",
            F.expr(f"doc_id div {_SEG_SIZE}").alias("segment"),
            F.explode(tokens("text")).alias("word"),
        )
        .groupBy("word", "segment")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("s"))
        .select(
            "word",
            "segment",
            F.array_join("s", ",").alias("postings"),
            F.size("s").cast("long").alias("doc_freq"),
        )
    )


@query(
    "doc_tf_topk",
    oracle="""
    SELECT doc_id, word, tf, rn FROM (
      SELECT doc_id, word, count(*) AS tf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY count(*) DESC, word) AS rn
      FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' GROUP BY doc_id, word)
    WHERE rn <= 3
    """,
)
def doc_tf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 terms per document (term-frequency ranking)."""
    docs = t(spark, sf, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tf"), "word")
    return tf.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@query(
    "text_quality_scores",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(str_split(text, ' '), x -> x <> '') AS ws,
             length(text) AS n_chars_actual
      FROM documents)
    SELECT doc_id,
           len(ws) AS n_tokens,
           len(list_distinct(ws)) AS n_distinct,
           round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) AS ttr,
           round(list_sum(list_transform(ws, x -> CAST(length(x) AS DOUBLE))) / len(ws), 4)
             AS avg_word_len,
           round(CAST(len(list_filter(ws, x -> list_contains(
             {list(_STOPWORDS)!r}, x))) AS DOUBLE) / len(ws), 4) AS stopword_ratio,
           n_chars_actual
    FROM toks
    """,
)
def text_quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-scoring components used for corpus filtering: token
    count, type-token ratio, mean word length, stopword ratio."""
    docs = t(spark, sf, "documents")
    ws = tokens("text")
    n_tok = F.size(ws)
    n_dis = F.size(F.array_distinct(ws))
    total_len = F.aggregate(
        ws, F.lit(0.0), lambda a, x: a + F.length(x).cast("double")
    )
    stop = F.size(
        F.filter(ws, lambda x: x.isin(*_STOPWORDS))
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_dis.alias("n_distinct"),
        F.round(n_dis.cast("double") / n_tok, 4).alias("ttr"),
        F.round(total_len / n_tok, 4).alias("avg_word_len"),
        F.round(stop.cast("double") / n_tok, 4).alias("stopword_ratio"),
        F.length("text").alias("n_chars_actual"),
    )


@query(
    "lang_stats",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang, source
    """,
)
def lang_stats(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def _lang_score_sql(lang: str) -> str:
    markers = list(_LANG_MARKERS[lang])
    return (
        f"len(list_filter(list_distinct(list_filter(str_split(text, ' '), "
        f"x -> x <> '')), x -> list_contains({markers!r}, x)))"
    )


@query(
    "langid_heuristic",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_lang_score_sql('de')} AS s_de,
             {_lang_score_sql('en')} AS s_en,
             {_lang_score_sql('es')} AS s_es,
             {_lang_score_sql('fr')} AS s_fr,
             {_lang_score_sql('zh')} AS s_zh
      FROM documents)
    SELECT doc_id, lang,
           CASE greatest(s_de, s_en, s_es, s_fr, s_zh)
             WHEN s_de THEN 'de' WHEN s_en THEN 'en' WHEN s_es THEN 'es'
             WHEN s_fr THEN 'fr' ELSE 'zh' END AS predicted
    FROM scored
    """,
)
def langid_heuristic(spark: SparkSession, sf: str) -> DataFrame:
    """Marker-vocabulary language ID: score each language by how many
    of its marker words occur in the document; argmax with
    alphabetical-language tiebreak (the CASE picks the first max)."""
    docs = t(spark, sf, "documents")
    ws_distinct = F.array_distinct(tokens("text"))

    def marker_hits(markers):
        # NB: factory, not a default-arg lambda — a two-parameter lambda
        # would be bound as PySpark's (element, index) HOF form
        return F.size(F.filter(ws_distinct, lambda x: x.isin(*markers)))

    scored = docs.select(
        "doc_id",
        "lang",
        *[
            marker_hits(m).alias(f"s_{lang}")
            for lang, m in _LANG_MARKERS.items()
        ],
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in _LANG_MARKERS])
    # WHEN chain in forward order so ties resolve like the oracle CASE
    pred = F.when(F.col("s_de") == best, "de")
    for lang in ["en", "es", "fr"]:
        pred = pred.when(F.col(f"s_{lang}") == best, lang)
    pred = pred.otherwise("zh")
    return scored.select("doc_id", "lang", pred.alias("predicted"))


@query(
    "token_count_regex",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_bpe_ish,
           len(list_filter(str_split(text, ' '), x -> x <> '')) AS n_ws
    FROM documents
    """,
)
def token_count_regex(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    lexer (alpha runs / digit runs / single punctuation)."""
    docs = t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), 0)
        ).alias("n_bpe_ish"),
        F.size(tokens("text")).alias("n_ws"),
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fingerprint,
           md5(array_to_string(list_sort(list_distinct(
             list_filter(str_split(lower(text), ' '), x -> x <> ''))), ' ')) AS bag_fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalized text, and an
    order-insensitive bag-of-words fingerprint (dedup keys)."""
    docs = t(spark, sf, "documents")
    bag = F.array_join(
        F.array_sort(F.array_distinct(tokens("text", lowercase=True))), " "
    )
    return docs.select(
        "doc_id",
        norm_fingerprint("text").alias("fingerprint"),
        F.md5(bag).alias("bag_fingerprint"),
    )


@query(
    "ngram_counts_top",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(str_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents),
    grams AS (
      SELECT unnest(list_transform(
               range(1, greatest(len(ws) - 1, 0) + 1),
               i -> array_to_string(ws[i:i+1], ' '))) AS bigram
      FROM toks WHERE len(ws) >= 2)
    SELECT bigram, count(*) AS n FROM grams GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 50
    """,
)
def ngram_counts_top(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide bigram counts, top-50 — the n-gram LM-statistics
    shape: bigram explode + one count aggregate (map-side combine
    bounds the shuffle at distinct-bigram cardinality)."""
    docs = t(spark, sf, "documents")
    return (
        docs.select(
            F.explode(ngrams(tokens("text", lowercase=True), 2)).alias(
                "bigram"
            )
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(50)
    )


@query(
    "doc_repetition_scores",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(str_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(ws) - 1, 0) + 1),
               i -> array_to_string(ws[i:i+1], ' '))) AS bigram
      FROM toks WHERE len(ws) >= 2),
    per AS (
      SELECT doc_id, bigram, count(*) AS c FROM grams GROUP BY doc_id, bigram)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           CAST(max(c) AS BIGINT) AS top_bigram_n,
           round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS repetition_ratio
    FROM per GROUP BY doc_id
    """,
)
def doc_repetition_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Repetition quality signal (the Gopher-style rule: heavily
    repeated n-grams mark boilerplate/spam): per doc, the most
    frequent bigram's share of all bigram occurrences.  Two stacked
    aggregates, both partial-agg friendly."""
    docs = t(spark, sf, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(ngrams(tokens("text", lowercase=True), 2)).alias("bigram"),
    )
    per = grams.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    return per.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_bigram_n"),
        F.round(F.max("c").cast("double") / F.sum("c"), 4).alias(
            "repetition_ratio"
        ),
    )


_SEARCH_TERMS = ("join", "filter", "window")


@query(
    "search_multiword_and",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(list_filter(str_split(lower(text), ' '),
                                     x -> x <> '')) AS word
      FROM documents)
    SELECT doc_id, CAST(count(*) AS INTEGER) AS n_matched
    FROM toks WHERE word IN {_SEARCH_TERMS!r}
    GROUP BY doc_id HAVING count(*) = {len(_SEARCH_TERMS)}
    """,
)
def search_multiword_and(spark: SparkSession, sf: str) -> DataFrame:
    """Conjunctive (AND) search over the inverted index: a doc
    qualifies iff it contains EVERY query term.  Expressed as the
    posting-list intersection the index exists for — explode distinct
    terms, filter to the query vocabulary (a tiny IN list that
    pushes into the scan), count per doc, keep count == |query|."""
    docs = t(spark, sf, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(tokens("text", lowercase=True))
        ).alias("word"),
    )
    return (
        toks.filter(F.col("word").isin(*_SEARCH_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_matched"))
        .filter(F.col("n_matched") == len(_SEARCH_TERMS))
    )


@query(
    "bm25_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(str_split(lower(text), ' '),
                            x -> x <> '')) AS word
      FROM documents),
    dl AS (SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM toks
           WHERE word IN {_SEARCH_TERMS!r} GROUP BY doc_id, word),
    df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    scored AS (
      SELECT tf.doc_id,
             sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * doc_len / avgdl))) AS score
      FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY tf.doc_id)
    SELECT doc_id, round(score, 6) AS bm25 FROM (
      SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rn
      FROM scored) WHERE rn <= 20
    """,
)
def bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 ranking (k1=1.2, b=0.75) for a fixed conjunctive query —
    the retrieval scorer an LLM-data search stack runs over the
    inverted index.  Corpus stats (N, avgdl) are a 1-row broadcast;
    per-term df a broadcast dim; the fact stream is the tf table.
    Top-20 with doc_id tiebreak for the deterministic oracle hash."""
    docs = t(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens("text", lowercase=True)).alias("word")
    )
    # dl and tf are DOC-level aggregates with two consumers each
    # (stats + the scoring join; df + the scoring join) — persisting
    # them caps the plan at TWO tokenization passes instead of four,
    # with only KB-scale caches (persisting the exploded token stream
    # itself would be corpus-sized, the wrong trade; SCALE.md §10j)
    dl = (
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("doc_len"))
        .persist()
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("doc_len").alias("avgdl")
    )
    tf = (
        toks.filter(F.col("word").isin(*_SEARCH_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    k1, b = 1.2, 0.75
    term = idf * F.col("tf") * (k1 + 1) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("doc_len") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term).alias("score"))
    )
    # global top-20 via sort+limit, NOT a row_number window: Spark
    # plans TakeOrderedAndProject (per-partition top-k + tiny merge),
    # which scales where a global rank window funnels every scored doc
    # through one task (caught by the r06 window-funnel lint)
    return (
        scored.orderBy(F.desc("score"), "doc_id")
        .limit(20)
        .select("doc_id", F.round("score", 6).alias("bm25"))
    )


@query(
    "doc_winnow_fingerprints",
    oracle="""
    WITH norm AS (
      SELECT doc_id, lower(trim(regexp_replace(text, ' +', ' ', 'g'))) AS s
      FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(range(1, greatest(length(s) - 7, 0) + 1),
               i -> list_sum(list_transform(range(0, 8),
                      j -> unicode(s[i+j:i+j])
                           * CAST(pow(31, 7-j) AS BIGINT))) % 1000000007)
               AS hashes
      FROM norm),
    w AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(hashes) - 3, 0) + 1),
               i -> list_min(hashes[i:i+3]))) AS fps
      FROM h WHERE len(hashes) >= 4)
    SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fps,
           md5(array_to_string(list_sort(fps), ',')) AS fp_digest
    FROM w
    """,
)
def doc_winnow_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling-hash document fingerprinting (Karp-Rabin 8-char-gram
    polynomial hash, base 31 mod 1e9+7, winnowed with window 4 — the
    MOSS selection rule: each window contributes its minimum hash, so
    fingerprint density is position-independent and two documents
    sharing any 11+ char run share a fingerprint).  All integer
    arithmetic chosen to be overflow-free in a 64-bit long so the
    DuckDB twin computes bit-identical values."""
    import hashlib

    import numpy as np
    import pandas as pd

    docs = t(spark, sf, "documents")
    norm = norm_text("text")
    weights = np.array([31 ** (7 - j) for j in range(8)], dtype="int64")

    # exact int64 arithmetic (no overflow: 8 * 255 * 31^7 < 2^63), so
    # the numpy path computes bit-identical values to the SQL twin —
    # vectorized because the per-char HOF formulation is interpreted
    # expression evaluation (measured 22s vs ~1s at sf0.01)
    def _winnow_fn(s):
        out_n, out_d = [], []
        for text in s:
            codes = np.array([ord(c) for c in text], dtype="int64")
            if len(codes) < 11:  # need >= 4 k-gram windows
                out_n.append(None)
                out_d.append(None)
                continue
            win = np.lib.stride_tricks.sliding_window_view(codes, 8)
            hashes = (win @ weights) % 1_000_000_007
            mins = np.lib.stride_tricks.sliding_window_view(hashes, 4).min(
                axis=1
            )
            fps = np.unique(mins)
            out_n.append(len(fps))
            out_d.append(
                hashlib.md5(
                    ",".join(str(int(x)) for x in fps).encode()
                ).hexdigest()
            )
        return pd.DataFrame({"n_fps": out_n, "fp_digest": out_d})

    # real (non-string) annotations: `from __future__ import
    # annotations` would stringify inline hints and break pandas_udf
    # signature inference
    _winnow_fn.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    winnow = F.pandas_udf(_winnow_fn, "n_fps int, fp_digest string")

    return (
        docs.select("doc_id", winnow(norm).alias("w"))
        .select("doc_id", "w.n_fps", "w.fp_digest")
        .filter(F.col("n_fps").isNotNull())
    )


# Gopher-style quality rules (Rae et al. 2021 §A1.1, adapted to the
# synthetic corpus), every threshold an INTEGER cross-multiplication so
# no ratio ever floats through the oracle hash:
#   len:     5 <= n_tokens <= 100000
#   wordlen: 2 <= mean word length <= 12   (2n <= chars <= 12n)
#   rep:     top bigram <= 1/8 of bigrams  (8*max_c <= total_c)
#   stop:    stopwords >= 2% of tokens     (50*stops >= n_tokens)
_GQ_MIN_TOK, _GQ_MAX_TOK = 5, 100_000
_GQ_WL_LO, _GQ_WL_HI = 2, 12
_GQ_REP_DEN = 8
_GQ_STOP_DEN = 50


def _gq_oracle() -> str:
    stops = ", ".join(f"'{w}'" for w in _STOPWORDS)
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '')
               AS ws
      FROM documents),
    base AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n,
             CAST(len(array_to_string(ws, '')) AS BIGINT) AS chars,
             CAST(len(list_filter(ws, x -> list_contains([{stops}], x)))
                  AS BIGINT) AS stops
      FROM toks),
    bg AS (
      SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS b
      FROM toks, unnest(range(1, len(ws))) AS u(i)),
    bgc AS (
      SELECT doc_id, CAST(max(c) AS BIGINT) AS max_c,
             CAST(sum(c) AS BIGINT) AS tot_c
      FROM (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b)
      GROUP BY doc_id)
    SELECT base.doc_id,
           (n >= {_GQ_MIN_TOK} AND n <= {_GQ_MAX_TOK}) AS f_len,
           (chars >= {_GQ_WL_LO} * n AND chars <= {_GQ_WL_HI} * n)
             AS f_wordlen,
           (coalesce({_GQ_REP_DEN} * bgc.max_c <= bgc.tot_c, TRUE))
             AS f_rep,
           ({_GQ_STOP_DEN} * stops >= n) AS f_stop,
           ((n >= {_GQ_MIN_TOK} AND n <= {_GQ_MAX_TOK})
            AND (chars >= {_GQ_WL_LO} * n AND chars <= {_GQ_WL_HI} * n)
            AND coalesce({_GQ_REP_DEN} * bgc.max_c <= bgc.tot_c, TRUE)
            AND ({_GQ_STOP_DEN} * stops >= n)) AS pass_all
    FROM base LEFT JOIN bgc ON bgc.doc_id = base.doc_id
    WHERE n > 0
    """


@query("gopher_quality_flags", oracle=_gq_oracle())
def gopher_quality_flags(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-rule quality screen (Rae et al. 2021): per-document
    boolean flags for token-count bounds, mean-word-length bounds,
    top-bigram repetition, and stopword presence, plus the composite
    pass — the classic rule battery a pretraining corpus is filtered
    through before model-based scoring.  Every threshold is an integer
    CROSS-MULTIPLICATION (8·max_bigram <= total_bigrams, not
    max/total <= 0.125), so the oracle compares integers and booleans
    only — no ratio boundary can float.  Docs with zero bigrams pass
    the repetition rule vacuously (coalesce TRUE) on both engines.
    Scale: one corpus scan computes the per-doc integer stats with
    array HOFs; the bigram aggregate reduces map-side to (doc,
    distinct-bigram) then one row per doc; the final join is
    doc-keyed."""
    docs = t(spark, sf, "documents")
    ws = tokens("text", lowercase=True)
    base = docs.select(
        "doc_id",
        ws.alias("ws"),
        F.size(ws).cast("long").alias("n"),
        F.length(F.concat_ws("", ws)).cast("long").alias("chars"),
        F.size(F.filter(ws, lambda x: x.isin(*_STOPWORDS)))
        .cast("long")
        .alias("stops"),
    ).filter(F.col("n") > 0)
    bg = base.select("doc_id", F.explode(ngrams(F.col("ws"), 2)).alias("b"))
    bgc = (
        bg.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").cast("long").alias("max_c"),
            F.sum("c").cast("long").alias("tot_c"),
        )
    )
    j = base.join(bgc, "doc_id", "left")
    f_len = (F.col("n") >= _GQ_MIN_TOK) & (F.col("n") <= _GQ_MAX_TOK)
    f_wordlen = (F.col("chars") >= _GQ_WL_LO * F.col("n")) & (
        F.col("chars") <= _GQ_WL_HI * F.col("n")
    )
    f_rep = F.coalesce(
        _GQ_REP_DEN * F.col("max_c") <= F.col("tot_c"), F.lit(True)
    )
    f_stop = _GQ_STOP_DEN * F.col("stops") >= F.col("n")
    return j.select(
        "doc_id",
        f_len.alias("f_len"),
        f_wordlen.alias("f_wordlen"),
        f_rep.alias("f_rep"),
        f_stop.alias("f_stop"),
        (f_len & f_wordlen & f_rep & f_stop).alias("pass_all"),
    )


# --- PII detection / redaction (round 6) -----------------------------
#
# The synthetic corpus carries no PII, so — like the multimodal ramp
# fixtures — deterministic PII spans are INJECTED from doc_id by both
# engines with identical concat arithmetic, and what the oracle then
# verifies cross-engine is the detection/redaction machinery itself
# (regexp_extract_all counting + ordered regexp_replace + md5 of the
# redacted text).  Patterns are written in the RE2 ∩ Java-regex
# portable subset (character classes + bounded repetition only — no
# backrefs, no lookaround), so Spark's Java engine and DuckDB's RE2
# match identically.

_PII_EMAIL_RE = "[a-z0-9]+@[a-z0-9]+\\.com"
_PII_PHONE_RE = "555-[0-9]{4}"
_PII_IP_RE = "10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

_PII_AUG_SQL = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 4 < 3
                   THEN ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com'
                   ELSE '' END
           || CASE WHEN doc_id % 3 = 0
                   THEN ' call 555-'
                        || CAST(1000 + doc_id % 9000 AS VARCHAR)
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                        || '.' || CAST((doc_id * 13) % 256 AS VARCHAR)
                   ELSE '' END AS text
    FROM documents
"""


@query(
    "pii_detect_redact",
    oracle=f"""
    WITH aug AS ({_PII_AUG_SQL})
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL_RE}'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE_RE}'))
                AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text, '{_PII_IP_RE}'))
                AS BIGINT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
                 '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{_PII_PHONE_RE}', '<PHONE>', 'g'),
                 '{_PII_IP_RE}', '<IP>', 'g')) AS redacted_md5
    FROM aug
    """,
)
def pii_detect_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII detection + redaction — the compliance pass every training
    corpus goes through before release: per-class occurrence counts
    (emails, phone-like, IPv4) and the md5 of the text after ordered
    class-by-class redaction, so a detector that misses a span, a
    redactor that leaves a residue, or a class-order swap all
    hash-mismatch.  PII spans are injected deterministically from
    doc_id (the corpus is synthetic), with non-carriers mixed in so
    zero-count rows are exercised.  Scale: pure map-side expression
    work on the corpus scan — JVM regexp in whole-stage codegen, no
    Python, no shuffle; output is doc-cardinality."""
    docs = t(spark, sf, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 < 3,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" call 555-"),
                (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" host 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                ((F.col("doc_id") * 7) % 256).cast("string"),
                F.lit("."),
                ((F.col("doc_id") * 13) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    txt = docs.select("doc_id", aug.alias("text"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL_RE, "<EMAIL>"),
            _PII_PHONE_RE,
            "<PHONE>",
        ),
        _PII_IP_RE,
        "<IP>",
    )
    return txt.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_PHONE_RE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_IP_RE), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
        F.md5(red).alias("redacted_md5"),
    )


_EVAL_QUERIES = [
    (1, ["scan", "fast"]),
    (2, ["merge", "batch"]),
    (3, ["hash", "value"]),
    (4, ["slow", "table"]),
]


@query(
    "retrieval_eval_first_rank",
    oracle=f"""
    WITH q AS (
      SELECT * FROM (VALUES {", ".join(
          f"({qid}, '{w}', {len(ws)})"
          for qid, ws in _EVAL_QUERIES for w in ws)})
      AS t(qid, w, n_terms)),
    toks AS (
      SELECT doc_id, unnest(list_filter(
               str_split(lower(text), ' '), x -> x <> '')) AS w
      FROM documents),
    sc AS (
      SELECT q.qid, toks.doc_id, q.n_terms,
             count(*) AS score, count(DISTINCT toks.w) AS hit_terms
      FROM toks JOIN q ON toks.w = q.w
      GROUP BY 1, 2, 3),
    best AS (
      SELECT qid, min(struct_pack(ns := -score, bd := doc_id)) AS b
      FROM sc WHERE hit_terms = n_terms GROUP BY qid),
    agg AS (
      SELECT sc.qid,
             count(*) AS n_candidates,
             count(*) FILTER (WHERE sc.hit_terms = sc.n_terms)
               AS n_relevant,
             count(*) FILTER (WHERE best.b IS NOT NULL AND (
               sc.score > -(best.b).ns OR
               (sc.score = -(best.b).ns AND sc.doc_id < (best.b).bd)))
               AS n_above
      FROM sc LEFT JOIN best ON sc.qid = best.qid
      GROUP BY sc.qid)
    SELECT CAST(qid AS BIGINT) AS qid,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_relevant AS BIGINT) AS n_relevant,
           CAST(CASE WHEN n_relevant = 0 THEN 0
                ELSE n_above + 1 END AS BIGINT) AS first_rel_rank
    FROM agg
    """,
)
def retrieval_eval_first_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieval evaluation without a rank window: for each of 4
    fixed two-term queries, rank every candidate document (>= 1 term
    hit) by exact integer relevance (total query-term frequency,
    doc_id tiebreak) and report the rank of the first RELEVANT
    document (relevant = contains ALL query terms — the conjunctive
    ground truth), plus candidate/relevant counts — the
    rank-of-first-relevant table MRR is computed from, as exact
    integers (MRR itself is Σ 1/rank, a rational the caller derives).

    The rank is computed WITHOUT ordering anything: the best relevant
    document per query is the lexicographic min of (-score, doc_id) —
    an aggregate — and its rank is 1 + the count of candidates
    strictly above it in that order.  No per-query window ever sees
    the corpus-scaled candidate list (a rank window partitioned by
    the 4-value qid would funnel each query's candidates through one
    task — exactly the shape the window-funnel lint exists to kill).

    Scale: one corpus token scan joined to a broadcast 8-row query-
    term table; everything after is per-(query, doc) aggregates and a
    4-row broadcast of the best-relevant tuples."""
    q_rows = [
        (qid, w, len(ws)) for qid, ws in _EVAL_QUERIES for w in ws
    ]
    q = spark.createDataFrame(q_rows, "qid long, w string, n_terms long")
    toks = t(spark, sf, "documents").select(
        "doc_id", F.explode(tokens("text", lowercase=True)).alias("w")
    )
    sc = (
        toks.join(F.broadcast(q), "w")
        .groupBy("qid", "doc_id", "n_terms")
        .agg(
            F.count(F.lit(1)).alias("score"),
            F.countDistinct("w").alias("hit_terms"),
        )
    ).persist()  # term-matching docs only; feeds best + the rank count
    best = (
        sc.filter(F.col("hit_terms") == F.col("n_terms"))
        .groupBy("qid")
        .agg(
            F.min(
                F.struct(
                    (-F.col("score")).alias("ns"),
                    F.col("doc_id").alias("bd"),
                )
            ).alias("b")
        )
    )
    agg = (
        sc.join(F.broadcast(best), "qid", "left")
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(
                (F.col("hit_terms") == F.col("n_terms")).cast("long")
            ).alias("n_relevant"),
            F.sum(
                (
                    F.col("b").isNotNull()
                    & (
                        (F.col("score") > -F.col("b.ns"))
                        | (
                            (F.col("score") == -F.col("b.ns"))
                            & (F.col("doc_id") < F.col("b.bd"))
                        )
                    )
                ).cast("long")
            ).alias("n_above"),
        )
    )
    return agg.select(
        F.col("qid").cast("long"),
        F.col("n_candidates").cast("long"),
        F.col("n_relevant").cast("long"),
        F.when(F.col("n_relevant") == 0, F.lit(0))
        .otherwise(F.col("n_above") + 1)
        .cast("long")
        .alias("first_rel_rank"),
    )


_NDCG_K = 10
# round(1e6 / log2(r + 1)) for r = 1..10 — the discount table as exact
# integer e6 ticks, precomputed once so NEITHER engine evaluates a
# transcendental (cross-engine log() ULP drift never enters the hash).
_NDCG_DISC_E6 = [
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
]
_NDCG_DISC_VALUES = ", ".join(
    f"({r + 1}, {d})" for r, d in enumerate(_NDCG_DISC_E6)
)


def _bounded_top10(df: DataFrame, st) -> DataFrame:
    """Two-phase bounded top-10 per qid WITHOUT a rank window: phase 1
    keeps each shuffle partition's 10 best structs (partial, bounded
    state), phase 2 merges the <= 10 * partitions survivors per qid.
    The struct's leading fields are the ascending sort key, so the
    final array is the global top-10 regardless of partitioning."""
    p1 = (
        df.withColumn("st", st)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("qid", "pid")
        .agg(
            F.slice(
                F.sort_array(F.collect_list("st")), 1, _NDCG_K
            ).alias("arr")
        )
        .select("qid", F.explode("arr").alias("st"))
    )
    return p1.groupBy("qid").agg(
        F.slice(F.sort_array(F.collect_list("st")), 1, _NDCG_K).alias("arr")
    )


@query(
    "ndcg_at_10",
    oracle=f"""
    WITH q AS (
      SELECT * FROM (VALUES {", ".join(
          f"({qid}, '{w}', {len(ws)})"
          for qid, ws in _EVAL_QUERIES for w in ws)})
      AS t(qid, w, n_terms)),
    toks AS (
      SELECT doc_id, unnest(list_filter(
               str_split(lower(text), ' '), x -> x <> '')) AS w
      FROM documents),
    sc AS (
      SELECT q.qid, toks.doc_id,
             count(*) AS score, count(DISTINCT toks.w) AS gain
      FROM toks JOIN q ON toks.w = q.w
      GROUP BY 1, 2),
    disc AS (SELECT * FROM (VALUES {_NDCG_DISC_VALUES}) AS d(r, d_e6)),
    rk AS (
      SELECT qid, gain, row_number() OVER
               (PARTITION BY qid ORDER BY score DESC, doc_id) AS r
      FROM sc),
    dcg AS (
      SELECT qid, sum(gain * d_e6) AS dcg_e6
      FROM rk JOIN disc ON rk.r = disc.r GROUP BY qid),
    ik AS (
      SELECT qid, gain, row_number() OVER
               (PARTITION BY qid ORDER BY gain DESC, doc_id) AS r
      FROM sc),
    idcg AS (
      SELECT qid, sum(gain * d_e6) AS idcg_e6
      FROM ik JOIN disc ON ik.r = disc.r GROUP BY qid)
    SELECT CAST(dcg.qid AS BIGINT) AS qid,
           CAST(dcg_e6 AS BIGINT) AS dcg_e6,
           CAST(idcg_e6 AS BIGINT) AS idcg_e6,
           CAST(dcg_e6 * 1000000 // idcg_e6 AS BIGINT) AS ndcg_e6
    FROM dcg JOIN idcg ON dcg.qid = idcg.qid
    """,
)
def ndcg_at_10(spark: SparkSession, sf: str) -> DataFrame:
    """nDCG@10 retrieval quality per evaluation query — the graded
    companion to retrieval_eval_first_rank's binary MRR table.
    Candidates are ranked by exact integer relevance (total query-term
    frequency, doc_id tiebreak); graded gain = number of DISTINCT
    query terms hit (2 = conjunctive match, 1 = partial).  DCG uses a
    PRECOMPUTED integer discount table (round(1e6/log2(r+1)) ticks,
    r = 1..10) so no engine evaluates a log; DCG/IDCG are exact
    integer tick sums, and the published nDCG is the exact integer
    quotient dcg_e6 * 1e6 div idcg_e6 — bit-portable, no float
    rounding anywhere (both engines truncate positive integer
    division identically).

    Scale: one corpus token scan joined to the broadcast 8-row term
    table, one (qid, doc) aggregate, then a TWO-PHASE BOUNDED top-10
    (per-partition top-10, then merge of the <= 10 x partitions
    survivors) — the distributed top-k shape; no rank window ever
    partitions by the 4-value qid (the window-funnel lint class), so
    no task sees more than 10 x partitions rows after the scan.  The
    oracle uses plain rank windows — DuckDB has no funnel concern —
    and the two formulations agree because the struct sort key
    (-score, doc_id) is a total order."""
    q_rows = [
        (qid, w, len(ws)) for qid, ws in _EVAL_QUERIES for w in ws
    ]
    q = spark.createDataFrame(q_rows, "qid long, w string, n_terms long")
    toks = t(spark, sf, "documents").select(
        "doc_id", F.explode(tokens("text", lowercase=True)).alias("w")
    )
    sc = (
        toks.join(F.broadcast(q), "w")
        .groupBy("qid", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("score"),
            F.countDistinct("w").alias("gain"),
        )
        .persist()  # feeds both the ranked and the ideal top-10
    )
    disc = F.array(*[F.lit(d) for d in _NDCG_DISC_E6])
    ranked = _bounded_top10(
        sc,
        F.struct(
            (-F.col("score")).alias("ns"),
            F.col("doc_id").alias("d"),
            F.col("gain").alias("g"),
        ),
    )
    dcg = (
        ranked.select("qid", F.posexplode("arr").alias("pos", "st"))
        .select(
            "qid",
            (F.col("st.g") * F.element_at(disc, F.col("pos") + 1)).alias(
                "term"
            ),
        )
        .groupBy("qid")
        .agg(F.sum("term").alias("dcg_e6"))
    )
    ideal = _bounded_top10(
        sc,
        F.struct(
            (-F.col("gain")).alias("ng"),
            F.col("doc_id").alias("d"),
            F.col("gain").alias("g"),
        ),
    )
    idcg = (
        ideal.select("qid", F.posexplode("arr").alias("pos", "st"))
        .select(
            "qid",
            (F.col("st.g") * F.element_at(disc, F.col("pos") + 1)).alias(
                "term"
            ),
        )
        .groupBy("qid")
        .agg(F.sum("term").alias("idcg_e6"))
    )
    return (
        dcg.join(idcg, "qid")
        .select(
            F.col("qid").cast("long"),
            F.col("dcg_e6").cast("long"),
            F.col("idcg_e6").cast("long"),
            F.expr("dcg_e6 * 1000000 div idcg_e6")
            .cast("long")
            .alias("ndcg_e6"),
        )
    )


_RAKE_TOPK = 25


@query(
    "rake_keyword_scores",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(str_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents),
    pos AS (
      SELECT doc_id, u.i AS pos, ws[u.i] AS w,
             list_contains({list(_STOPWORDS)!r}, ws[u.i]) AS stop
      FROM toks, unnest(range(1, len(ws) + 1)) AS u(i)),
    runs AS (
      SELECT doc_id, w,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run_id
      FROM pos WHERE NOT stop),
    plens AS (
      SELECT w,
             count(*) OVER (PARTITION BY doc_id, run_id) AS plen
      FROM runs),
    ws AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen) AS BIGINT) AS deg
      FROM plens GROUP BY 1)
    SELECT w AS word, freq, deg,
           CAST(deg * 10000 // freq AS BIGINT) AS rake_e4
    FROM ws
    ORDER BY rake_e4 DESC, word
    LIMIT {_RAKE_TOPK}
    """,
)
def rake_keyword_scores(spark: SparkSession, sf: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    Extraction from Individual Documents"): split each document into
    candidate phrases at stopword boundaries (maximal runs of
    non-stopwords — the run id is the pos − row_number gap trick, the
    sessionization idiom applied to token positions), then score each
    word by deg/freq, where deg(w) = Σ length of every phrase
    containing w and freq(w) = occurrence count.  High scores mark
    words that travel in long content phrases — keyword material —
    vs. words that appear alone.  Published as deg·1e4 // freq exact
    ticks, top-25 by (score, word).

    Scale: both windows run per-document (token positions, then the
    (doc, run) phrase-length count — doc-bounded, the standard
    text-pipeline partitions; no self-join, one documents scan); the
    word aggregate is vocabulary-cardinality; the final top-25 is a
    TakeOrdered sort-limit, not a global rank window."""
    toks = t(spark, sf, "documents").select(
        "doc_id",
        tokens("text", lowercase=True).alias("ws"),
    )
    pos = toks.select(
        "doc_id", F.posexplode("ws").alias("pos", "w")
    ).select(
        "doc_id",
        "pos",
        "w",
        F.col("w").isin(*_STOPWORDS).alias("stop"),
    )
    wr = W.partitionBy("doc_id").orderBy("pos")
    runs = (
        pos.filter(~F.col("stop"))
        .select(
            "doc_id",
            "w",
            (F.col("pos") - F.row_number().over(wr)).alias("run_id"),
        )
    )
    # phrase length as a window over the (doc, run) partition — one
    # pass, no self-join, one documents FileScan in the executed plan
    plens = runs.select(
        "w",
        F.count(F.lit(1))
        .over(W.partitionBy("doc_id", "run_id"))
        .alias("plen"),
    )
    ws = plens.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    )
    return (
        ws.select(
            F.col("w").alias("word"),
            "freq",
            "deg",
            F.expr("deg * 10000 div freq").cast("long").alias("rake_e4"),
        )
        .orderBy(F.desc("rake_e4"), "word")
        .limit(_RAKE_TOPK)
    )
