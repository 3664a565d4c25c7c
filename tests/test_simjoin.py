"""operators/simjoin.py — the candidate-pair and verify-join primitives
of every near-dup family — and the shared similarity rules of
functions/similarity.py against pure-Python replays, plus source guards
that keep the band explode, the pairwise-explode pair form, the
two-sided feature join and the bit_count Hamming from being hand-copied
back into the plans."""

from __future__ import annotations

import ast
import math
import os
import re
from collections import defaultdict
from itertools import combinations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from distributedmapreduce_spark.functions.similarity import (
    hamming,
    jaccard,
    jaccard_e6,
)
from distributedmapreduce_spark.operators.simjoin import (
    band_buckets,
    bucket_pairs,
    hash_blocks,
    pair_sides,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(REPO, "distributedmapreduce_spark")
PLANS_DIR = os.path.join(PKG_DIR, "plans")

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


long_st = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(values=st.lists(long_st, min_size=1, max_size=12))
@example(values=[0, 1, 0xBEEF, 0x1234_5678_9ABC_DEF0, -1, -(2**63), 2**63 - 1])
def test_hash_blocks_match_python_shifts(spark, values):
    """hash_blocks against Python shifts, and hamming of each value
    against the next (wrapping) against a 64-bit popcount of the xor
    — negative longs included."""
    nxt = values[1:] + values[:1]
    df = spark.createDataFrame(list(zip(values, nxt)), "ph long, qh long")
    cols = [F.array(*hash_blocks(F.col("ph"), w)).alias(f"b{w}") for w in (4, 16)]
    rows = df.select(*cols, hamming("ph", "qh").alias("ham")).collect()
    for r, x, y in zip(rows, values, nxt):
        for width in (4, 16):
            mask = (1 << width) - 1
            assert r[f"b{width}"] == [(x >> (width * b)) & mask for b in range(4)]
        assert r.ham == bin((x ^ y) & (2**64 - 1)).count("1")


set_st = st.lists(st.integers(-5, 12), max_size=8, unique=True)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(sets=st.lists(st.tuples(set_st, set_st), min_size=1, max_size=10))
@example(sets=[([1, 2, 3], [3, 2, 1]), ([1], [2]), ([], [4]), ([7, -1], [-1])])
def test_jaccard_matches_python_sets(spark, sets):
    """jaccard and jaccard_e6 of two distinct-element arrays against a
    Python set replay (a pair whose union is empty is undefined and
    never verified: every caller drops empty sets first)."""
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(sets)],
        "i long, a array<long>, b array<long>",
    ).filter(F.size("a") + F.size("b") > 0)
    got = {
        r.i: r
        for r in df.select(
            "i", jaccard("a", "b").alias("j"), jaccard_e6("a", "b").alias("e6")
        ).collect()
    }
    for i, (a, b) in enumerate(sets):
        if not a and not b:
            assert i not in got
            continue
        want = len(set(a) & set(b)) / len(set(a) | set(b))
        assert got[i].j == want
        assert got[i].e6 == math.floor(want * 1e6)


PAIR_SCHEMA = "p long, q long, tag string"
FEAT_SCHEMA = "x long, id long, y string"


def _pair_sides_replay(pairs, feats):
    by_id = {f[1]: (f[0], f[2]) for f in feats}
    return sorted(
        (p, q, tag, *by_id[p], *by_id[q])
        for p, q, tag in pairs
        if p in by_id and q in by_id
    )


def test_pair_sides_matches_python_join(spark):
    """Every non-id feature arrives once per side, in feats' column
    order; a pair with a side missing from feats is dropped; a NULL
    feature arrives as NULL; no pair repeats."""
    feats = [(10, 1, "u"), (20, 2, None), (30, 3, "w"), (None, 4, "z")]
    pairs = [
        (1, 2, "a"), (1, 3, "b"), (2, 3, "c"), (3, 1, "d"),
        (1, 9, "gone"), (9, 2, "gone"), (2, 4, "e"), (4, 4, "f"),
    ]
    got = pair_sides(
        spark.createDataFrame(pairs, PAIR_SCHEMA),
        spark.createDataFrame(feats, FEAT_SCHEMA),
        "id",
        "p",
        "q",
    )
    assert got.columns == ["p", "q", "tag", "x_a", "y_a", "x_b", "y_b"]
    rows = [tuple(r) for r in got.collect()]
    assert len(rows) == len(set(rows))
    want = _pair_sides_replay(pairs, feats)
    assert sorted(rows) == want
    assert (2, 4, "e", 20, None, None, "z") in want
    assert not any(r[2] == "gone" for r in want)


def test_pair_sides_empty_pairs(spark):
    got = pair_sides(
        spark.createDataFrame([], PAIR_SCHEMA),
        spark.createDataFrame([(1, 1, "u")], FEAT_SCHEMA),
        "id",
        "p",
        "q",
    )
    assert got.columns == ["p", "q", "tag", "x_a", "y_a", "x_b", "y_b"]
    assert got.collect() == []


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


# calls that compare two records' features: the shared rules and the
# raw spellings they replace
_SIM_CALLS = {
    "hamming", "jaccard", "jaccard_e6", "pair_cosine",
    "bit_count", "array_intersect", "pair_dot", "_pair_dot",
}


def _call_name(call):
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _renames(select):
    """{alias: source column} of the ``F.col(src).alias(alias)``
    arguments of a ``.select`` call."""
    out = {}
    for arg in select.args:
        if (
            isinstance(arg, ast.Call) and _call_name(arg) == "alias"
            and isinstance(arg.func.value, ast.Call)
            and _call_name(arg.func.value) == "col"
            and arg.args and isinstance(arg.args[0], ast.Constant)
            and arg.func.value.args
            and isinstance(arg.func.value.args[0], ast.Constant)
        ):
            out[arg.args[0].value] = arg.func.value.args[0].value
    return out


def _twin_aliases(s1, s2):
    """Aliases of two selects that rename the same column to a/b twins
    (``doc_a``/``doc_b``, ``ha``/``hb``)."""
    r1, r2 = _renames(s1), _renames(s2)
    return {
        name
        for al, src in r1.items()
        if al.endswith("a") and r2.get(al[:-1] + "b") == src
        for name in (al, al[:-1] + "b")
    }


def _strings(node):
    return {
        n.value for n in ast.walk(node)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }


def _two_sided_feature_joins(fn):
    """True when ``fn`` selects one frame twice with its id and at
    least one feature renamed to a/b twins, and then either joins both
    copies onto a pair table or compares the twins with a similarity
    rule — the verify join that simjoin.pair_sides spells once."""
    calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)]
    selects = [
        c for c in calls
        if _call_name(c) == "select" and isinstance(c.func, ast.Attribute)
    ]
    names = {  # local name -> the select call bound to it
        n.targets[0].id: n.value
        for n in ast.walk(fn)
        if isinstance(n, ast.Assign) and len(n.targets) == 1
        and isinstance(n.targets[0], ast.Name) and n.value in selects
    }

    def resolve(node):
        if isinstance(node, ast.Call) and _call_name(node) == "broadcast":
            node = node.args[0]
        return names.get(node.id) if isinstance(node, ast.Name) else node

    sims = set().union(
        *[_strings(c) for c in calls if _call_name(c) in _SIM_CALLS]
    )
    chained = [
        (resolve(c.func.value.args[0]), resolve(c.args[0]))
        for c in calls
        if _call_name(c) == "join" and c.args
        and isinstance(c.func.value, ast.Call)
        and _call_name(c.func.value) == "join" and c.func.value.args
    ]
    for i, s1 in enumerate(selects):
        for s2 in selects[i + 1:]:
            if ast.dump(s1.func.value) != ast.dump(s2.func.value):
                continue
            twins = _twin_aliases(s1, s2) | _twin_aliases(s2, s1)
            if len(twins) < 4:  # the id alone is a pair, not a feature join
                continue
            if twins & sims or any(
                {x, y} == {s1, s2} for x, y in chained
            ):
                return True
    return False


def _plan_functions(path):
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    return [
        node for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


def test_plans_spell_no_two_sided_feature_join():
    """Candidate pairs get their features through simjoin.pair_sides.
    The two exceptions carry their features through their own
    blocking self-join instead of verifying a pair table."""
    found = {
        fn.name
        for name in sorted(os.listdir(PLANS_DIR)) if name.endswith(".py")
        for fn in _plan_functions(os.path.join(PLANS_DIR, name))
        if _two_sided_feature_joins(fn)
    }
    assert found == {"dedup_simhash", "semdedup_cluster_prune"}


def test_bit_count_spelled_only_in_functions():
    """Hamming distance is functions/similarity.py::hamming; a
    ``bit_count`` call anywhere else in the package or tools is a copy
    of it (the DuckDB oracle SQL strings are not Python calls)."""
    roots = [PKG_DIR, os.path.join(REPO, "tools")]
    found = set()
    for root in roots:
        for d, _, files in os.walk(root):
            if os.path.join(PKG_DIR, "functions") in d:
                continue
            for f in files:
                if not f.endswith(".py"):
                    continue
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read())
                if any(
                    isinstance(n, ast.Call) and _call_name(n) == "bit_count"
                    for n in ast.walk(tree)
                ):
                    found.add(os.path.relpath(path, REPO))
    assert found == set()
