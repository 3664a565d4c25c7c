"""Golden-parity + quirk tests for the flagship text pipeline
(SURVEY.md §5.3 items 1 and 3)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from distributedmapreduce_spark.operators import text as T

from .reference_replay import (
    needs_reference_input,
    replay_inverted_index,
    replay_lines,
    replay_tokens,
    replay_word_count,
)

QUIRK_LINES = [
    "hello world",
    "",  # blank: dropped, cursor +1
    "  ",  # whitespace-only: kept, cursor +2, no tokens
    "don't stop, 42nd street!",  # punctuation stripped
    "double  space   run",  # multi-space: no offset advance
    "hello again hello",
    "",
    "trailing",
]


def _spark_lines(spark, raw_lines):
    raw = spark.createDataFrame([(l,) for l in raw_lines], "value string")
    return T.lines(raw)


def test_lines_quirks(spark):
    got = sorted(
        _spark_lines(spark, QUIRK_LINES).collect(), key=lambda r: r.line_id
    )
    want = replay_lines(QUIRK_LINES)
    assert [(r.line_id, r.line, r.byte_offset) for r in got] == want


def test_tokens_quirks(spark):
    tok = T.tokens(_spark_lines(spark, QUIRK_LINES))
    got = sorted((r.word, r.offset) for r in tok.collect())
    want = sorted(replay_tokens(replay_lines(QUIRK_LINES)))
    assert got == want


def test_word_count_quirks(spark):
    wc = T.word_count(T.tokens(_spark_lines(spark, QUIRK_LINES)))
    got = {r.word: r["count"] for r in wc.collect()}
    want = replay_word_count(replay_tokens(replay_lines(QUIRK_LINES)))
    assert got == want


@pytest.fixture(scope="module")
def reference_tokens(spark):
    raw = spark.read.text("/root/reference/input.txt")
    return T.pipeline(raw).cache()


@needs_reference_input
def test_golden_inverted_index(spark, reference_tokens):
    """End-to-end parity with /root/reference/solution_database.json."""
    got = {
        r.word: list(r.postings)
        for r in T.inverted_index(reference_tokens).collect()
    }
    golden = json.load(open("/root/reference/solution_database.json"))
    assert len(got) == len(golden) == 5568
    assert set(got) == set(golden)
    mismatches = [w for w in golden if sorted(golden[w]) != got[w]]
    assert mismatches == []


@needs_reference_input
def test_golden_word_count(spark, reference_tokens):
    golden = json.load(open("/root/reference/solution_database.json"))
    got = {r.word: r["count"] for r in T.word_count(reference_tokens).collect()}
    want = {w: len(v) for w, v in golden.items()}
    assert got == want


@needs_reference_input
def test_token_total(spark, reference_tokens):
    assert reference_tokens.count() == 31331


def test_properties_random(spark):
    import random

    rng = random.Random(42)
    alphabet = "ab c.!  d"
    doc = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 30)))
        for _ in range(300)
    ]
    lines = replay_lines(doc)
    pairs = replay_tokens(lines)
    tok = T.tokens(_spark_lines(spark, doc))
    got = sorted((r.word, r.offset) for r in tok.collect())
    assert got == sorted(pairs)
    # invariants: sum of counts == token count; count == len(postings)
    wc = {r.word: r["count"] for r in T.word_count(tok).collect()}
    ii = {r.word: r.postings for r in T.inverted_index(tok).collect()}
    assert sum(wc.values()) == len(pairs)
    assert {w: len(p) for w, p in ii.items()} == wc
    for p in ii.values():
        assert all(a <= b for a, b in zip(p, p[1:]))
