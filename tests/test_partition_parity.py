"""S9 partition parity: the reference's ``len(word) % R`` partitioner
(mapper_word_count.py:24-30) expressed as an explicit repartition —
demonstrating partition-count parity and key-functional correctness
(every distinct word lands in exactly one partition)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributedmapreduce_spark.operators import text as T

from .reference_replay import (
    load_reference_input,
    needs_reference_input,
    quirk_lines,
    replay_inverted_index,
    replay_lines,
    replay_tokens,
)


@needs_reference_input
def test_length_hash_repartition(spark):
    raw = spark.read.text("/root/reference/input.txt")
    tok = T.pipeline(raw)
    r = 3
    parted = tok.repartition(r, F.length("word") % r)
    assert parted.rdd.getNumPartitions() == r
    # key-functional: no word spans two partitions
    spread = (
        parted.withColumn("pid", F.spark_partition_id())
        .groupBy("word")
        .agg(F.countDistinct("pid").alias("n_parts"))
        .agg(F.max("n_parts").alias("mx"))
        .first()
    )
    assert spread.mx == 1
    # and the grouped result is identical to the unpartitioned pipeline
    a = sorted((r_.word, r_["count"]) for r_ in T.word_count(parted).collect())
    b = sorted((r_.word, r_["count"]) for r_ in T.word_count(tok).collect())
    assert a == b


@pytest.mark.parametrize(
    "split_bytes", [None, 4096], ids=["one_split", "forced_splits"]
)
def test_file_scan_split_parity(spark, tmp_path, split_bytes):
    """S4 parity on a real file scan at both prefix-sum branches: one
    split (no totals pass) and >= 3 splits forced through
    ``spark.sql.files.maxPartitionBytes`` (the distributed two-pass
    sum, with lines cut at split boundaries by the text reader)."""
    path = tmp_path / "quirks.txt"
    path.write_text("\n".join(quirk_lines(600, seed=5)) + "\n")
    want_lines = replay_lines(load_reference_input(str(path)))
    want_pairs = replay_tokens(want_lines)
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    if split_bytes is not None:
        spark.conf.set(key, str(split_bytes))
    try:
        raw = spark.read.text(str(path))
        n = raw.rdd.getNumPartitions()
        assert n == 1 if split_bytes is None else n >= 3
        lines = T.lines(raw)
        assert sorted(tuple(r) for r in lines.collect()) == want_lines
        tok = T.tokens(lines)
        got = sorted((r.word, r.offset) for r in tok.collect())
        assert got == sorted(want_pairs)
        ii = {r.word: list(r.postings) for r in T.inverted_index(tok).collect()}
        assert ii == replay_inverted_index(want_pairs)
    finally:
        spark.conf.set(key, before)
