"""S9 partition parity: the reference's ``len(word) % R`` partitioner
(mapper_word_count.py:24-30) expressed as an explicit repartition —
demonstrating partition-count parity and key-functional correctness
(every distinct word lands in exactly one partition)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributedmapreduce_spark.operators import text as T

from .reference_replay import needs_reference_input


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
