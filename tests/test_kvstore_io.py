"""Solution-store semantics (S15/S16/S19 parity) and format round-trips."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from distributedmapreduce_spark.operators.kvstore import SolutionStore
from distributedmapreduce_spark.sources.io import WRITE_FORMATS, read_table, write_table
from distributedmapreduce_spark.sources.testdata import load_table

from .reference_replay import (
    needs_reference_input,
    quirk_lines,
    replay_lines,
    replay_tokens,
    replay_word_count,
)


def test_solution_store_upsert_and_lookup(spark, tmp_path):
    store = SolutionStore(spark, str(tmp_path / "store"), key_col="word")
    df1 = spark.createDataFrame(
        [("alpha", 1), ("beta", 2)], "word string, count long"
    )
    store.upsert(df1)
    assert store.get("alpha") == 1
    assert store.get("missing") is None  # the reference's False contract
    # last-writer-wins per key (S15 overwrite semantics)
    df2 = spark.createDataFrame(
        [("alpha", 10), ("gamma", 3)], "word string, count long"
    )
    store.upsert(df2)
    assert store.to_local() == {"alpha": 10, "beta": 2, "gamma": 3}


def test_solution_store_struct_values(spark, tmp_path):
    store = SolutionStore(spark, str(tmp_path / "store2"), key_col="word")
    store.upsert(
        spark.createDataFrame(
            [("w", [1, 5, 9])], "word string, postings array<long>"
        )
    )
    assert store.get("w") == [1, 5, 9]


@pytest.mark.parametrize("fmt", WRITE_FORMATS)
def test_format_round_trip(spark, tmp_path, fmt):
    src = load_table(spark, "nation", "/root/testdata/sf0.001")
    path = str(tmp_path / f"nation_{fmt}")
    write_table(src, path, fmt)
    back = read_table(spark, path, fmt, schema=src.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    assert back.schema == src.schema


@needs_reference_input
def test_job_rerun_upserts_idempotently(spark, tmp_path):
    """Reference lifecycle: re-running a job against the same solution
    store overwrites per key (database_server.py:88-102) — the store
    must converge, not duplicate or error, on a full job re-run."""
    from distributedmapreduce_spark.operators import text as T

    store = SolutionStore(spark, str(tmp_path / "rerun"), key_col="word")
    lines = T.lines(spark.read.text("/root/reference/input.txt"))
    wc = T.word_count(T.tokens(lines))
    store.upsert(wc)
    first = store.to_local()
    store.upsert(wc)  # identical re-run
    assert store.to_local() == first
    assert len(first) == 5568


def test_externally_written_duplicates_raise_named_error(spark, tmp_path):
    path = str(tmp_path / "dups")
    spark.createDataFrame(
        [("k", 1), ("k", 2)], "word string, count long"
    ).write.parquet(path)
    store = SolutionStore(spark, path, key_col="word")
    with pytest.raises(ValueError, match="duplicate rows for key 'k'"):
        store.get("k")


def _counts(spark, pairs):
    return spark.createDataFrame(pairs, "word string, count long")


def test_failed_upsert_keeps_previous_contents(spark, tmp_path):
    """A batch that fails while the store writes it publishes nothing:
    the previous version stays readable from the same object and from
    a fresh one, and the next upsert clears what the failed write
    left."""
    path = str(tmp_path / "store")
    store = SolutionStore(spark, path, key_col="word")
    store.upsert(_counts(spark, [("alpha", 1), ("beta", 2)]))
    bad = _counts(spark, [("alpha", 10), ("gamma", 3)]).withColumn(
        "count",
        F.when(F.col("count") > 5, F.raise_error(F.lit("boom"))).otherwise(
            F.col("count")
        ),
    )
    with pytest.raises(Exception, match="boom"):
        store.upsert(bad)
    for s in (store, SolutionStore(spark, path, key_col="word")):
        assert s.get("alpha") == 1
        assert s.get("gamma") is None
        assert s.to_local() == {"alpha": 1, "beta": 2}
    store.upsert(_counts(spark, [("gamma", 3)]))
    (live,) = os.listdir(path)
    assert not live.startswith(".")
    assert store.to_local() == {"alpha": 1, "beta": 2, "gamma": 3}


def test_upsert_leaves_only_the_live_version(spark, tmp_path):
    path = str(tmp_path / "store")
    store = SolutionStore(spark, path, key_col="word")
    for batch in ([("alpha", 1)], [("alpha", 2), ("beta", 1)]):
        store.upsert(_counts(spark, batch))
        (live,) = os.listdir(path)
        assert not live.startswith(".")
        assert os.path.exists(os.path.join(path, live, "_SUCCESS"))
    assert not os.path.exists(path + ".staging")
    assert store.to_local() == {"alpha": 2, "beta": 1}


def test_crash_leftovers_are_never_live(spark, tmp_path):
    """On-disk states a kill can leave: a finished or half-written
    ``.tmp-*`` write that was never renamed in is ignored; after the
    rename but before cleanup, the newest complete version wins, also
    when the superseded one is half deleted.  The next upsert clears
    the leftovers."""
    path = str(tmp_path / "store")
    SolutionStore(spark, path, key_col="word").upsert(
        _counts(spark, [("alpha", 1), ("beta", 2)])
    )
    (v1,) = os.listdir(path)
    # killed before the rename: one finished and one partial temp write
    _counts(spark, [("alpha", 99)]).write.parquet(os.path.join(path, ".tmp-1"))
    _counts(spark, [("alpha", 98)]).write.parquet(os.path.join(path, ".tmp-2"))
    os.remove(os.path.join(path, ".tmp-2", "_SUCCESS"))
    assert SolutionStore(spark, path, key_col="word").to_local() == {
        "alpha": 1,
        "beta": 2,
    }
    # killed after the rename, while removing the superseded version
    v2 = "v" + str(int(v1[1:]) + 1).zfill(len(v1) - 1)
    _counts(spark, [("alpha", 5)]).write.parquet(os.path.join(path, v2))
    store = SolutionStore(spark, path, key_col="word")
    assert store.to_local() == {"alpha": 5}
    os.remove(os.path.join(path, v1, "_SUCCESS"))
    assert store.get("alpha") == 5 and store.get("beta") is None
    store.upsert(_counts(spark, [("beta", 7)]))
    assert len(os.listdir(path)) == 1
    assert SolutionStore(spark, path, key_col="word").to_local() == {
        "alpha": 5,
        "beta": 7,
    }


def test_rerun_upserts_converge_on_generated_text(spark, tmp_path):
    """Re-running a job against its own store converges (the reference
    overwrites per key, database_server.py:88-102), on generated text
    so it runs without the reference input."""
    from distributedmapreduce_spark.operators import text as T

    doc = quirk_lines(300, seed=11)
    raw = spark.createDataFrame([(l,) for l in doc], "value string")
    wc = T.word_count(T.tokens(T.lines(raw)))
    want = replay_word_count(replay_tokens(replay_lines(doc)))
    store = SolutionStore(spark, str(tmp_path / "rerun"), key_col="word")
    for _ in range(3):
        store.upsert(wc)
        assert store.to_local() == want
