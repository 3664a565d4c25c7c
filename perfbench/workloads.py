"""The workloads: their job lists, inputs and output checks.

A job is one user-visible query: construct it (the ``plans`` span),
let Catalyst plan it (``catalyst``, traced runs only) and collect its
result (``exec``).  ``check`` then compares the result with the
expected one; checking is benchmark work and is never timed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

import check
import gen

# One registry workload mixes the relational queries (driver
# construction and Catalyst bound, no Python stages) with the curation
# queries (Arrow/pandas stages, an index_store build and reads): a
# Spark session's one-time start-up costs dominate a short run, so the
# two families share one session instead of paying them twice.  Two of
# each family: every run of the benchmark must fit a fixed time budget.
REGISTRY_MIX = [
    "q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "dedup_minhash_lsh",
    "ann_lsh_topk",
]
# the DataFrame word count runs inside kvstore_upsert_get, as the
# input of the store, so it is not also run as a job of its own
REFERENCE_MAPREDUCE = [
    "text_inverted_index",
    "rdd_word_count",
    "kvstore_upsert_get",
]
# registry queries with no oracle: checked for their schema, a
# non-empty result and an output hash equal across passes
NO_ORACLE_COLUMNS = {
    "dedup_minhash_lsh": ["doc_a", "doc_b", "jaccard"],
    "ann_lsh_topk": ["query_id", "neighbor_id", "cosine", "rn"],
}
KV_HITS, KV_MISSES = 2, 2


@dataclass
class Ctx:
    """What a job needs: the session, its inputs and the tracer."""

    spark: Any
    tracer: Any
    run_dir: str
    sf_dir: str = ""
    text_path: str = ""
    queries: dict = field(default_factory=dict)
    expected: dict = field(default_factory=dict)
    hashes: dict = field(default_factory=dict)
    stores: int = 0


@dataclass
class Workload:
    name: str
    jobs: list[str]
    prepare: Callable[[str, int], dict]  # (run_dir, seed) -> inputs
    run_job: Callable[[Ctx, str], Any]
    check_job: Callable[[Ctx, str, Any], bool]


def materialize(ctx: Ctx, df) -> tuple[list[str], list]:
    tr = ctx.tracer
    if tr.on:
        with tr.span("executedPlan", "catalyst"):
            df._jdf.queryExecution().executedPlan()
    with tr.span("collect", "exec"):
        rows = df.collect()
    return df.columns, rows


# -- registry workloads ----------------------------------------------------


def _prepare_star(oracle_jobs: list[str]):
    def prepare(run_dir: str, seed: int) -> dict:
        sf_dir = os.path.join(run_dir, "sf")
        inputs = gen.write_star_schema(sf_dir, seed)
        return {"sf_dir": sf_dir, "inputs": inputs, "oracle_jobs": oracle_jobs}

    return prepare


def run_registry(ctx: Ctx, name: str):
    with ctx.tracer.span(name, "plans", jobs=True):
        df = ctx.queries[name](ctx.spark, ctx.sf_dir)
    return materialize(ctx, df)


def check_registry(ctx: Ctx, name: str, result) -> bool:
    cols, rows = result
    if name in NO_ORACLE_COLUMNS:
        if cols != NO_ORACLE_COLUMNS[name] or not rows:
            return False
        h = check.digest(cols, rows)
        return ctx.hashes.setdefault(name, h) == h
    want = ctx.expected[name]
    return sorted(cols) == sorted(want["columns"]) and check.same_rows(
        check.multiset(cols, rows), want["rows"]
    )


# -- reference MapReduce workload -------------------------------------------


def _prepare_text(run_dir: str, seed: int) -> dict:
    from tests import reference_replay as rr

    os.makedirs(run_dir, exist_ok=True)
    path = os.path.join(run_dir, "zipf.txt")
    inputs = {"zipf.txt": gen.write_zipf_text(path, seed)}
    pairs = rr.replay_tokens(rr.replay_lines(rr.load_reference_input(path)))
    counts = rr.replay_word_count(pairs)
    rng = np.random.default_rng([seed, 3])
    words = sorted(counts)
    hits = [words[i] for i in rng.choice(len(words), KV_HITS, replace=False)]
    # cleaned words are [a-zA-Z0-9]+, so an underscore never hits
    misses = [f"miss_{i}" for i in rng.integers(0, 10**6, KV_MISSES)]
    keys = [k for k in rng.permutation(np.array(hits + misses, dtype=object))]
    return {
        "text_path": path,
        "inputs": inputs,
        "expected": {
            "counts": counts,
            "postings": rr.replay_inverted_index(pairs),
            "lookups": keys,
        },
    }


def _lines(ctx: Ctx):
    from distributedmapreduce_spark.operators import text as optext
    from distributedmapreduce_spark.sources import text as srctext

    return optext.lines(srctext.read_text_lines(ctx.spark, ctx.text_path))


def run_reference(ctx: Ctx, name: str):
    from distributedmapreduce_spark.operators import kvstore, mapreduce
    from distributedmapreduce_spark.operators import text as optext

    tr = ctx.tracer
    if name == "text_inverted_index":
        with tr.span(name, "plans", jobs=True):
            df = optext.inverted_index(optext.tokens(_lines(ctx)))
        return materialize(ctx, df)
    if name == "rdd_word_count":
        with tr.span(name, "plans", jobs=True):
            df = mapreduce.word_count_job(_lines(ctx))
        return materialize(ctx, df)
    if name == "kvstore_upsert_get":
        ctx.stores += 1
        path = os.path.join(ctx.run_dir, f"store-{ctx.stores}")
        store = kvstore.SolutionStore(ctx.spark, path, key_col="word")
        with tr.span(name, "plans", jobs=True):
            counts = optext.word_count(optext.tokens(_lines(ctx)))
        store.upsert(counts)
        got = {k: store.get(k) for k in ctx.expected["lookups"]}
        return {"store": store, "lookups": got}
    raise KeyError(name)


def check_reference(ctx: Ctx, name: str, result) -> bool:
    exp = ctx.expected
    if name == "kvstore_upsert_get":
        store = result["store"]
        want = {k: exp["counts"].get(k) for k in exp["lookups"]}
        ok = result["lookups"] == want and store.to_local() == exp["counts"]
        # the store is this execution's output; drop it once checked
        import shutil

        for p in (store.path, store.path + ".staging"):
            shutil.rmtree(p, ignore_errors=True)
        return ok
    cols, rows = result
    if name == "rdd_word_count":
        return {r[0]: r[1] for r in rows} == exp["counts"] and len(rows) == len(exp["counts"])
    if name == "text_inverted_index":
        return {r[0]: list(r[1]) for r in rows} == exp["postings"] and len(rows) == len(exp["postings"])
    raise KeyError(name)


WORKLOADS = {
    "registry_mix": Workload(
        "registry_mix", REGISTRY_MIX,
        _prepare_star([q for q in REGISTRY_MIX if q not in NO_ORACLE_COLUMNS]),
        run_registry, check_registry,
    ),
    "reference_mapreduce": Workload(
        "reference_mapreduce", REFERENCE_MAPREDUCE,
        _prepare_text, run_reference, check_reference,
    ),
}
