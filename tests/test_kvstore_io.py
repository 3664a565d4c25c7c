"""Solution-store semantics (S15/S16/S19 parity) and format round-trips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributedmapreduce_spark.operators.kvstore import SolutionStore
from distributedmapreduce_spark.sources.io import WRITE_FORMATS, read_table, write_table
from distributedmapreduce_spark.sources.testdata import load_table

from .reference_replay import needs_reference_input


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
