"""operators/simjoin.py — the candidate-pair primitive of every near-dup
family — against a pure-Python enumeration, plus a source guard that
keeps the band explode and the pairwise-explode pair form from being
hand-copied back into the plans."""

from __future__ import annotations

import ast
import os
import re
from collections import defaultdict
from itertools import combinations

from pyspark.sql import functions as F

from distributedmapreduce_spark.operators.simjoin import (
    band_buckets,
    bucket_pairs,
    hash_blocks,
)

PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "distributedmapreduce_spark",
    "plans",
)

# (id, band, bucket): doc 1 sits in several buckets and shares two of
# them with doc 2 (one pair, not two); (3, "h") is a hot bucket; docs 7
# and 8 share only a NULL bucket (never a pair, as in an equi-join);
# (2, "z") and (1, "q") are single-member buckets; the same bucket
# value under different bands is a different bucket (docs 9 and 10)
ROWS = [
    (1, 0, "a"), (1, 1, "b"), (1, 2, "c"), (1, 3, "h"),
    (2, 0, "a"), (2, 1, "b"), (2, 3, "h"),
    (6, 3, "h"), (5, 3, "h"), (4, 3, "h"), (3, 3, "h"),
    (7, 0, None), (8, 0, None),
    (9, 2, "z"), (10, 1, "q"), (9, 1, "c"), (10, 2, "c"),
]
SCHEMA = "id long, band int, bucket string"


def _expected_pairs(rows, key):
    groups = defaultdict(set)
    for r in rows:
        k = key(r)
        if None not in k:
            groups[k].add(r[0])
    return {
        pair for ids in groups.values() for pair in combinations(sorted(ids), 2)
    }


def _collect_pairs(df):
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) == len(set(rows)), "bucket_pairs emitted a pair twice"
    return set(rows)


def test_bucket_pairs_matches_python_enumeration(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = bucket_pairs(df, "id", "a", "b")
    assert got.columns == ["a", "b"]
    want = _expected_pairs(ROWS, lambda r: (r[1], r[2]))
    assert _collect_pairs(got) == want
    assert (1, 2) in want and (3, 6) in want and (7, 8) not in want
    assert all(a < b for a, b in want)


def test_bucket_pairs_single_key(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = bucket_pairs(df, "id", "x", "y", on=("bucket",))
    assert _collect_pairs(got) == _expected_pairs(ROWS, lambda r: (r[2],))


def test_bucket_pairs_empty_input(spark):
    df = spark.createDataFrame([], SCHEMA)
    assert bucket_pairs(df, "id", "a", "b").collect() == []


def test_band_buckets_matches_python_enumeration(spark):
    data = [(1, 10, 20, 30), (2, 10, None, 31), (3, 11, 20, 30)]
    df = spark.createDataFrame(data, "id long, c0 long, c1 long, c2 long")
    got = band_buckets(
        df, ["id", (F.col("id") * 2).alias("twice")],
        [F.col("c0"), F.col("c1"), F.col("c2")],
    )
    assert got.columns == ["id", "twice", "band", "bucket"]
    want = sorted(
        (i, 2 * i, band, v)
        for i, *vals in data
        for band, v in enumerate(vals)
    )
    assert sorted(tuple(r) for r in got.collect()) == want
    empty = spark.createDataFrame([], "id long, c0 long")
    assert band_buckets(empty, ["id"], [F.col("c0")]).collect() == []


def test_hash_blocks_match_python_shifts(spark):
    values = [0, 1, 0xBEEF, 0x1234_5678_9ABC_DEF0, -1, -(2**63), 2**63 - 1]
    df = spark.createDataFrame([(v,) for v in values], "ph long")
    for width in (4, 16):
        got = df.select(F.array(*hash_blocks(F.col("ph"), width)).alias("b"))
        mask = (1 << width) - 1
        want = [[(v >> (width * b)) & mask for b in range(4)] for v in values]
        assert [r.b for r in got.collect()] == want


def _enclosing_functions(path, pattern):
    """Top-level function names whose body holds a line matching
    ``pattern`` (the module name for a match outside any function)."""
    with open(path, encoding="utf-8") as f:
        src = f.read()
    spans = [
        (node.lineno, node.end_lineno, node.name)
        for node in ast.parse(src).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    found = set()
    for lineno, line in enumerate(src.splitlines(), 1):
        if re.search(pattern, line):
            names = [n for lo, hi, n in spans if lo <= lineno <= hi]
            found.add(names[0] if names else "<module>")
    return found


def test_plans_spell_no_band_explode_or_pairwise_explode():
    """Band explodes go through simjoin.band_buckets and candidate
    pairs through simjoin.bucket_pairs; psh_pairs keeps its capped
    pairwise explode (measured faster for its bounded buckets)."""
    band_alias = r"""alias\(\s*["']band["']\s*,\s*["']bucket["']\s*\)"""
    pairwise = r"\bi\s*\+\s*F\.lit\(2\)"
    bands, explodes = set(), set()
    for name in sorted(os.listdir(PLANS_DIR)):
        if not name.endswith(".py"):
            continue
        path = os.path.join(PLANS_DIR, name)
        bands |= {(name, fn) for fn in _enclosing_functions(path, band_alias)}
        explodes |= {(name, fn) for fn in _enclosing_functions(path, pairwise)}
    assert bands == set()
    assert explodes == {("llm.py", "psh_pairs")}
