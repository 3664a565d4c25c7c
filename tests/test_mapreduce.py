"""Facade capability parity: the generalized map_reduce runs the
reference's own mapper/reducer logic and matches the DataFrame-native
pipelines exactly (SURVEY.md §7.3)."""

from __future__ import annotations

import pytest

from distributedmapreduce_spark.operators import mapreduce as MR
from distributedmapreduce_spark.operators import text as T

from .reference_replay import needs_reference_input, quirk_lines


@pytest.fixture(scope="module")
def ref_lines(spark):
    raw = spark.read.text("/root/reference/input.txt")
    return T.lines(raw).cache()


@needs_reference_input
def test_facade_word_count_matches_dataframe(spark, ref_lines):
    facade = {r.word: r["count"] for r in MR.word_count_job(ref_lines).collect()}
    native = {
        r.word: r["count"] for r in T.word_count(T.tokens(ref_lines)).collect()
    }
    assert facade == native


@needs_reference_input
def test_facade_inverted_index_matches_dataframe(spark, ref_lines):
    facade = {
        r.word: list(r.postings)
        for r in MR.inverted_index_job(ref_lines).collect()
    }
    native = {
        r.word: list(r.postings)
        for r in T.inverted_index(T.tokens(ref_lines)).collect()
    }
    assert facade == native


def test_facade_matches_dataframe_on_quirk_text(spark):
    """The reference's own mapper (``_tokenize_mapper``) through the
    facade and the built-in DataFrame tokenizer agree on quirk-rich
    text: runs of spaces, blank, whitespace- and punctuation-only
    lines."""
    doc = quirk_lines(400, seed=3)
    lines = T.lines(spark.createDataFrame([(l,) for l in doc], "value string"))
    tok = T.tokens(lines)
    facade_wc = {r.word: r["count"] for r in MR.word_count_job(lines).collect()}
    native_wc = {r.word: r["count"] for r in T.word_count(tok).collect()}
    assert facade_wc == native_wc and native_wc
    facade_ii = {
        r.word: list(r.postings) for r in MR.inverted_index_job(lines).collect()
    }
    native_ii = {r.word: list(r.postings) for r in T.inverted_index(tok).collect()}
    assert facade_ii == native_ii


def test_custom_job(spark):
    """Any user mapper/reducer pair runs — here: per-first-letter
    distinct-word count, nothing the packaged jobs provide."""
    df = spark.createDataFrame(
        [("apple art", 0), ("bat apple", 100)], "line string, byte_offset long"
    )
    out = MR.map_reduce(
        df,
        lambda row: [(w[0], w) for w in row.line.split(" ") if w],
        lambda _k, words: len(set(words)),
        num_partitions=2,
        output_schema="letter string, n_distinct long",
    )
    assert {r.letter: r.n_distinct for r in out.collect()} == {"a": 2, "b": 1}
