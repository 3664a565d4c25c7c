"""Round-5 extension operators: distributed BPE tokenizer training.

Byte-pair-encoding merge learning is the canonical tokenizer-training
job of an LLM data pipeline, and its structure is exactly the shape
this engine optimizes for at 100 TB: the corpus is scanned ONCE to
build the (word, freq) vocabulary (the classical Sennrich et al. 2016
reduction — merges depend only on word frequencies, never on the
corpus again), and every one of the K merge iterations then runs
against the vocabulary table, which is orders of magnitude smaller
than the corpus and is persisted after the single corpus scan.

Exactness: the whole procedure is integer counts + string rewrites —
no floats anywhere — so the learned merge table is bit-identical
across engines.  The DuckDB oracle implements merge APPLICATION with
a deliberately different algorithm (window-function chain-parity over
exploded token positions) than the Spark side (an ``F.aggregate``
fold), so agreement checks the greedy-leftmost semantics itself, and
``tests/test_llm6.py`` replays the spec a third time in pure Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from .core import query, t

_BPE_K = 6  # learned merges


def _bpe_chain_head(k_steps: int) -> "tuple[str, list[str]]":
    """WITH-chain of the K-step BPE trainer up to v_K, no readback.

    Returns ``(head_sql, carried_cols)``.  Shared by the trainer
    oracle and the encode/stream/fertility builders — ADVICE r09:
    those used to recover the head by substring-slicing the rendered
    trainer SQL (``base.index(",\\n    mm_final AS")``), which made
    any whitespace change in the trainer an import-time ValueError.

    Expansion discipline (ORACLE_PORTABILITY.md): DuckDB inlines a
    CTE at every reference, and each step references the exploded
    view of the previous vocabulary twice (pair counts + rewrite), so
    every vocabulary v_k is MATERIALIZED — computed once, not 2^K
    times.  The corpus is reduced to the (word, freq) vocab FIRST, so
    each step is vocab-sized, never corpus-sized.  Merge
    metadata rides along v_k as carried max() columns so the final
    SELECT touches only v_K (a scalar-subquery readback per step
    would re-expand the whole chain per step)."""
    sql = """
    WITH w0 AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS word
            FROM documents)
      WHERE regexp_matches(word, '^[a-z0-9]+$')
      GROUP BY word),
    v0 AS MATERIALIZED (
      SELECT word, freq,
             list_transform(range(1, strlen(word) + 1),
                            i -> substr(word, i, 1)) AS toks
      FROM w0)"""
    carry_prev: list[str] = []
    for k in range(1, k_steps + 1):
        carry_sel = "".join(f", {c}" for c in carry_prev)
        carry_agg = "".join(f", max({c}) AS {c}" for c in carry_prev)
        sql += f""",
    e{k} AS (
      SELECT word, freq, u.i AS i, toks[u.i] AS t,
             CASE WHEN u.i < len(toks) THEN toks[u.i + 1] END AS tn
             {carry_sel}
      FROM v{k - 1}, unnest(range(1, len(toks) + 1)) AS u(i)),
    pc{k} AS (
      SELECT t AS a, tn AS b, CAST(sum(freq) AS BIGINT) AS cnt
      FROM e{k} WHERE tn IS NOT NULL GROUP BY 1, 2),
    m{k} AS (SELECT a, b, cnt FROM pc{k}
             ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
    x{k} AS (
      SELECT e.*, m.a AS ma, m.b AS mb, m.cnt AS mc,
             (e.tn IS NOT NULL AND e.t = m.a AND e.tn = m.b) AS mm
      FROM e{k} e, m{k} m),
    y{k} AS (
      SELECT *,
             i - coalesce(max(CASE WHEN NOT mm THEN i END)
                            OVER (PARTITION BY word ORDER BY i
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS off
      FROM x{k}),
    z{k} AS (
      SELECT *, (mm AND off % 2 = 1) AS taken,
             lag(mm AND off % 2 = 1, 1, false)
               OVER (PARTITION BY word ORDER BY i) AS prev_taken
      FROM y{k}),
    v{k} AS MATERIALIZED (
      SELECT word, freq,
             list(CASE WHEN taken THEN ma || mb ELSE t END ORDER BY i)
               AS toks,
             max(ma) AS a{k}, max(mb) AS b{k}, max(mc) AS c{k}
             {carry_agg}
      FROM z{k} WHERE NOT prev_taken
      GROUP BY word, freq)"""
        carry_prev += [f"a{k}", f"b{k}", f"c{k}"]
    return sql, carry_prev


def _bpe_oracle(k_steps: int) -> str:
    """Trainer oracle: the shared WITH-chain head plus the mm_final
    readback that unions one row per learned merge step."""
    sql, carry_prev = _bpe_chain_head(k_steps)
    sql += f""",
    mm_final AS (SELECT {", ".join(f"max({c}) AS {c}" for c in carry_prev)}
                 FROM v{k_steps})
    """
    selects = [
        f"""SELECT CAST({k} AS BIGINT) AS step, a{k} AS left, b{k} AS right,
               a{k} || b{k} AS merged, c{k} AS cnt FROM mm_final"""
        for k in range(1, k_steps + 1)
    ]
    return sql + "\n    UNION ALL\n    ".join(selects)


def _merge_fold(toks, a: str, b: str):
    """Greedy-leftmost single-pass application of merge (a, b) as a
    whole-stage-codegen fold: walk the token list once, fusing t with
    the accumulator tail when (tail, t) == (a, b).  'a a a' under
    (a, a) becomes [aa, a] — first-match-wins, the standard BPE
    application rule."""
    return F.aggregate(
        toks,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _char_vocab(words: DataFrame) -> DataFrame:
    """(word) stream -> persisted (word, freq, toks) character-split
    vocabulary — the one corpus reduction both BPE queries train on."""
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "toks",
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            ),
        )
        .persist()
    )


def _train_merges(cur: DataFrame, k: int):
    """The K-step Sennrich trainer loop, shared by bpe_train_merges
    and bpe_encode_token_counts (VERDICT r05 'What's wrong' #4 — one
    loop body, so a merge-semantics fix can never land in only one of
    the two): per step, a pair-count aggregate over the exploded
    vocabulary, a 1-row argmax collect (ties: lexicographic pair
    order), and a map-only greedy-leftmost fold rewrite.  Returns
    (merges, rewritten_vocab) where merges is a list of (step, left,
    right, merged, cnt)."""
    merges: list[tuple] = []
    for step in range(1, k + 1):
        pairs = (
            cur.select(
                "freq",
                F.explode(
                    # sequence(1, 0) DESCENDS in Spark, so a 1-token
                    # word must shortcut to an empty pair list
                    F.expr(
                        "CASE WHEN size(toks) >= 2 THEN "
                        "transform(sequence(1, size(toks) - 1), "
                        "i -> struct(toks[i - 1] AS a, toks[i] AS b)) "
                        "ELSE CAST(array() AS array<struct<a:string,b:string>>) END"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
        )
        top_rows = (
            pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top_rows:
            raise ValueError(
                f"BPE: corpus exhausted after {step - 1} merges — "
                f"lower the merge count for corpora this small"
            )
        top = top_rows[0]
        merges.append((step, top.a, top.b, top.a + top.b, int(top.cnt)))
        cur = cur.withColumn(
            "toks", _merge_fold(F.col("toks"), top.a, top.b)
        )
    return merges, cur


@query(
    "bpe_train_merges",
    oracle=_bpe_oracle(_BPE_K),
)
def bpe_train_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Learn the first K=6 BPE merges over the documents corpus,
    bit-exact: (step, left, right, merged, cnt) where cnt is the
    frequency-weighted count of the winning adjacent pair at that
    step (ties broken by lexicographic pair order — ascii-only words,
    so binary collation agrees everywhere).

    Scale: ONE corpus scan builds the persisted (word, freq)
    vocabulary; each merge step is a pair-count aggregate over the
    exploded vocabulary (vocab-sized, partial-aggregated, shuffled on
    the pair key) plus a driver-side argmax of ONE row and a map-only
    fold rewrite — the corpus is never touched again, exactly how
    tokenizer training stays tractable when the corpus is 100 TB but
    the vocabulary is millions of rows.  K scans of the vocab by
    construction (documented; lint budget exempts the cached vocab).
    """
    docs = t(spark, sf, "documents")
    words = docs.select(
        F.explode(tokens("text", lowercase=True)).alias("word")
    ).filter(F.col("word").rlike("^[a-z0-9]+$"))
    vocab = _char_vocab(words)
    merges, _cur = _train_merges(vocab, _BPE_K)
    vocab.unpersist()
    return spark.createDataFrame(
        merges, "step long, left string, right string, merged string, cnt long"
    )


def _bpe_encode_oracle(k_steps: int) -> str:
    """Tokenization-side twin: reuse the training chain up to v_K
    (referenced ONCE — the doubling is already paid), then charge each
    document its per-word post-merge token counts."""
    head, _ = _bpe_chain_head(k_steps)
    return (
        head
        + f""",
    wlen AS (SELECT word, len(toks) AS n_toks FROM v{k_steps}),
    dw AS (
      SELECT doc_id, word
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS word
            FROM documents)
      WHERE regexp_matches(word, '^[a-z0-9]+$'))
    SELECT dw.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(wlen.n_toks) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(strlen(dw.word)) AS BIGINT) AS n_chars
    FROM dw JOIN wlen USING (word)
    GROUP BY dw.doc_id
    """
    )


@query(
    "bpe_encode_token_counts",
    oracle=_bpe_encode_oracle(_BPE_K),
)
def bpe_encode_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Apply the learned K=6 merges to tokenize the corpus: per
    document, the word count, the BPE token count after all merges,
    and the character count (the un-merged baseline) — the
    compression statistics a tokenizer-training pipeline reports.

    Scale: training cost as in bpe_train_merges; ENCODING is a
    broadcast join of the corpus word stream against the (word ->
    token-count) vocabulary map — the per-word merge folds run once
    per DISTINCT word, never once per occurrence, and the corpus pass
    is map-side only."""
    docs = t(spark, sf, "documents")
    dw = docs.select(
        "doc_id",
        F.explode(tokens("text", lowercase=True)).alias("word"),
    ).filter(F.col("word").rlike("^[a-z0-9]+$"))
    vocab = _char_vocab(dw.select("word"))
    _merges, cur = _train_merges(vocab, _BPE_K)
    wlen = cur.select("word", F.size("toks").cast("long").alias("n_toks"))
    # vocab stays persisted: the RETURNED plan's wlen branch reads it,
    # and an unpersist here would silently re-derive the fold chain
    # from a second corpus scan when the caller executes (caught by
    # tests/test_explain_lint.py's 1-scan budget).  The cache is
    # vocabulary-sized and LRU-evictable.
    return (
        dw.join(F.broadcast(wlen), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_toks").alias("n_bpe_tokens"),
            F.sum(F.length("word").cast("long")).alias("n_chars"),
        )
    )


def _bpe_stream_oracle(k_steps: int) -> str:
    """Corpus-stream encode oracle: the training chain up to v_K,
    then the ORDERED token stream per document, serialized to one string (the
    no-nested-output convention, plans/textq.py:77).  Word positions
    come from a zipped double-unnest over the empty-filtered split —
    the same stream Spark's posexplode produces."""
    head, _ = _bpe_chain_head(k_steps)
    return head + f""",
    wtok AS (SELECT word, array_to_string(toks, ' ') AS tok_str,
                    CAST(len(toks) AS BIGINT) AS n_toks
             FROM v{k_steps}),
    dw AS (
      SELECT doc_id, pos, word
      FROM (SELECT doc_id,
                   unnest(range(1, len(ws) + 1)) AS pos,
                   unnest(ws) AS word
            FROM (SELECT doc_id,
                         list_filter(string_split(lower(text), ' '),
                                     x -> x <> '') AS ws
                  FROM documents))
      WHERE regexp_matches(word, '^[a-z0-9]+$'))
    SELECT dw.doc_id,
           CAST(sum(wtok.n_toks) AS BIGINT) AS n_tokens,
           string_agg(wtok.tok_str, ' ' ORDER BY dw.pos) AS bpe_text
    FROM dw JOIN wtok USING (word)
    GROUP BY dw.doc_id
    """


@query(
    "bpe_encode_corpus_stream",
    oracle=_bpe_stream_oracle(_BPE_K),
)
def bpe_encode_corpus_stream(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide BPE ENCODE throughput (VERDICT r08 next-round #5):
    materialize the actual post-merge token stream for every
    document — the tokenize-the-lake job a training pipeline runs to
    write tokenized shards, not just the compression counters
    bpe_encode_token_counts reports.  Output per doc: the token
    count and the space-joined token stream in original word order.

    Scale shape: training reduces the corpus to the persisted
    (word, freq, toks) vocabulary exactly as bpe_train_merges (K
    vocab-sized aggregate passes, 1-row argmax collects); ENCODING is
    one corpus scan — posexplode preserves word order, a broadcast
    join against the (word -> serialized tokens) map charges each
    occurrence its pre-folded rewrite (the fold runs once per
    DISTINCT word, never per occurrence), and per-doc assembly is a
    single array_sort over (pos, tok_str) structs inside the doc
    aggregate.  Map-side only except the final doc_id shuffle, which
    any sharded tokenizer writer needs anyway."""
    docs = t(spark, sf, "documents")
    dw = docs.select(
        "doc_id",
        F.posexplode(tokens("text", lowercase=True)).alias("pos", "word"),
    ).filter(F.col("word").rlike("^[a-z0-9]+$"))
    vocab = _char_vocab(dw.select("word"))
    _merges, cur = _train_merges(vocab, _BPE_K)
    wtok = cur.select(
        "word",
        F.array_join("toks", " ").alias("tok_str"),
        F.size("toks").cast("long").alias("n_toks"),
    )
    # vocab stays persisted (the bpe_encode_token_counts precedent):
    # the RETURNED plan's wtok branch reads it, so the corpus is
    # scanned exactly once at execution
    return (
        dw.join(F.broadcast(wtok), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_toks").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok_str"))
                    ),
                    lambda p: p["tok_str"],
                ),
                " ",
            ).alias("bpe_text"),
        )
    )


def _bpe_fertility_oracle(k_steps: int) -> str:
    head, _ = _bpe_chain_head(k_steps)
    return head + f""",
    wlen AS (SELECT word, len(toks) AS n_toks FROM v{k_steps}),
    dw AS (
      SELECT lang, word
      FROM (SELECT lang,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS word
            FROM documents)
      WHERE regexp_matches(word, '^[a-z0-9]+$'))
    SELECT dw.lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(wlen.n_toks) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(strlen(dw.word)) AS BIGINT) AS n_chars,
           CAST((sum(strlen(dw.word)) * 10000) // sum(wlen.n_toks)
                AS BIGINT) AS chars_per_token_e4
    FROM dw JOIN wlen USING (word)
    GROUP BY dw.lang
    """


@query(
    "bpe_fertility_by_lang",
    oracle=_bpe_fertility_oracle(_BPE_K),
)
def bpe_fertility_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility per language: after the SAME K=6 BPE
    training (one `_train_merges` helper, no duplicated loop), the
    per-language compression report — words, post-merge BPE tokens,
    characters, and chars-per-token in e4 ticks.  This is the
    multilingual-coverage check a tokenizer-training pipeline runs
    before freezing a vocabulary: a language whose chars/token sits
    near 1.0 is being spelled out letter-by-letter (under-merged) and
    will pay a context-length tax at training time.

    Scale: identical to bpe_encode_token_counts (one corpus pass
    against the broadcast word -> token-count map); the report is
    language-cardinality."""
    docs = t(spark, sf, "documents")
    dw = docs.select(
        "lang",
        F.explode(tokens("text", lowercase=True)).alias("word"),
    ).filter(F.col("word").rlike("^[a-z0-9]+$"))
    vocab = _char_vocab(dw.select("word"))
    _merges, cur = _train_merges(vocab, _BPE_K)
    wlen = cur.select("word", F.size("toks").cast("long").alias("n_toks"))
    return (
        dw.join(F.broadcast(wlen), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_toks").alias("n_bpe_tokens"),
            F.sum(F.length("word").cast("long")).alias("n_chars"),
            F.expr(
                "(sum(CAST(length(word) AS BIGINT)) * 10000)"
                " div sum(n_toks)"
            ).cast("long").alias("chars_per_token_e4"),
        )
    )
