"""Property-based spot checks (SURVEY.md §5.3-4): random documents,
engine vs the pure-Python replay of the verified reference semantics,
plus the structural invariants."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from distributedmapreduce_spark.functions import text as FT
from distributedmapreduce_spark.operators import text as T

from .reference_replay import replay_lines, replay_tokens

# lines drawn from a tiny alphabet rich in the quirk triggers:
# blanks, whitespace runs, punctuation, digits
line_st = st.text(alphabet="ab c.!9  ", min_size=0, max_size=20)
doc_st = st.lists(line_st, min_size=1, max_size=40)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(doc=doc_st)
def test_pipeline_matches_replay(spark, doc):
    raw = spark.createDataFrame([(l,) for l in doc], "value string")
    got_lines = sorted(
        (r.line_id, r.line, r.byte_offset) for r in T.lines(raw).collect()
    )
    assert got_lines == sorted(replay_lines(doc))
    got_tokens = sorted((r.word, r.offset) for r in T.tokens(T.lines(raw)).collect())
    assert got_tokens == sorted(replay_tokens(replay_lines(doc)))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(doc=doc_st)
def test_aggregate_invariants(spark, doc):
    raw = spark.createDataFrame([(l,) for l in doc], "value string")
    tok = T.tokens(T.lines(raw))
    pairs = replay_tokens(replay_lines(doc))
    wc = {r.word: r["count"] for r in T.word_count(tok).collect()}
    ii = {r.word: list(r.postings) for r in T.inverted_index(tok).collect()}
    # sum of counts == total token occurrences
    assert sum(wc.values()) == len(pairs)
    # count == posting-list length, postings sorted ascending
    assert {w: len(p) for w, p in ii.items()} == wc
    for p in ii.values():
        assert p == sorted(p)
    # partition function is key-functional: same word -> same partition
    # (the reference's len(word) % R, mapper_word_count.py:28)
    for r in (3, 5):
        parts = {w: len(w) % r for w in wc}
        assert all(parts[w] == len(w) % r for w in wc)


def _split_replay(s, lowercase=False):
    """The reference tokenizer (mapper_word_count.py:16-18): split on
    single spaces, drop the empty tokens."""
    if s is None:
        return None
    return [w for w in (s.lower() if lowercase else s).split(" ") if w]


def _ngram_replay(ws, n):
    if ws is None:
        return None
    return [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]


# space runs, leading/trailing spaces, "" and NULL, mixed case
text_st = st.one_of(st.none(), st.text(alphabet="aB c  ", max_size=16))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=st.lists(text_st, min_size=1, max_size=12))
@example(corpus=[None, "", " ", "   ", "  a  b ", "A  b c ", "a a a a"])
def test_text_functions_match_split_replay(spark, corpus):
    """functions/text.py's tokens (both cases), ngrams and shingles
    against a pure-Python str.split(" ")-and-drop-empties replay."""
    from pyspark.sql.types import ArrayType, StringType

    df = spark.createDataFrame(list(enumerate(corpus)), "i long, text string")
    ws = FT.tokens("text")
    cols = [ws.alias("t"), FT.tokens("text", lowercase=True).alias("tl")]
    for n in (1, 2, 3):
        cols += [
            FT.ngrams(ws, n).alias(f"g{n}"),
            FT.shingles("text", n).alias(f"s{n}"),
        ]
    out = df.select("i", *cols)
    assert out.schema["t"].dataType == ArrayType(StringType(), False)
    got = {r.i: r for r in out.collect()}
    for i, s in enumerate(corpus):
        r = got[i]
        assert r.t == _split_replay(s)
        assert r.tl == _split_replay(s, lowercase=True)
        for n in (1, 2, 3):
            assert r[f"g{n}"] == _ngram_replay(_split_replay(s), n)
            grams = _ngram_replay(_split_replay(s, lowercase=True), n)
            # array_distinct keeps each value's first occurrence
            want = None if grams is None else list(dict.fromkeys(grams))
            assert r[f"s{n}"] == want


def _canon_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_results_invariant_to_shuffle_parallelism(spark):
    """Distributed-correctness property: changing
    spark.sql.shuffle.partitions (7 vs 32) must not change any query
    result — catches accidental dependence on partition count or
    intra-partition order (nondeterministic collect_list/first
    without canonicalization would fail this)."""
    from distributedmapreduce_spark.plans.registry import QUERIES

    names = [
        "q1_pricing_summary",
        "window_topk_orders_per_customer",
        "dedup_exact",
        "dedup_minhash_lsh",
        "doc_inverted_index",
    ]
    sf = "/root/testdata/sf0.001"
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for n in ("7", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            for name in names:
                results.setdefault(name, []).append(
                    _canon_rows(QUERIES[name](spark, sf))
                )
        for name, (a, b) in results.items():
            assert a == b, f"{name} changed under different parallelism"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_keyed_prefix_sum_matches_python_cumsum(spark):
    """Property: keyed_prefix_sum == Python exclusive cumsum in key
    order, for sparse/clustered/duplicate-free random keys, at any
    bucket width — including widths that force many/few buckets."""
    import random

    from pyspark.sql import functions as F

    from distributedmapreduce_spark.operators.prefix_sum import (
        keyed_prefix_sum,
    )

    rnd = random.Random(7)
    keys = rnd.sample(range(10**12), 300) + [10**15 + i * 17 for i in range(50)]
    rows = [(k, rnd.randint(0, 99)) for k in keys]
    df = spark.createDataFrame(rows, "k long, v long")
    want = {}
    acc = 0
    for k, v in sorted(rows):
        want[k] = acc
        acc += v
    for width in (1, 64, 10**9):
        got = {
            r.k: r.start
            for r in keyed_prefix_sum(
                df, "k", F.col("v"), bucket_width=width
            ).collect()
        }
        assert got == want, f"width={width}"
