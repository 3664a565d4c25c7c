"""Registry integrity: the driver contract exports every query, and
the registry can only grow — a structural edit that silently swallows
a neighboring @query definition (it happened) must fail CI."""

from __future__ import annotations

import os

from distributedmapreduce_spark.plans.registry import get_registry

MIN_QUERIES = 94
MIN_ORACLES = 84


def test_registry_size_floor():
    reg = get_registry()
    assert len(reg) >= MIN_QUERIES, sorted(reg)
    assert sum(1 for q in reg.values() if q.oracle) >= MIN_ORACLES


def test_registry_entries_well_formed():
    for name, q in get_registry().items():
        assert callable(q.fn), name
        assert q.fn.__doc__ or q.oracle, f"{name}: no doc and no oracle"
        if q.oracle is not None:
            assert "SELECT" in q.oracle.upper(), name


def test_registry_self_prioritization_order():
    """Front of the registry = latest-verdict fails, then queries no
    driver round ever checked, then greens stalest-round-first — the
    ordering the entry-capped driver window depends on.  Expectations
    are recomputed from the CORRECTNESS artifacts on disk, so this
    test keeps holding as new rounds land."""
    from distributedmapreduce_spark.plans.registry import (
        _merged_verdicts,
        _round_of,
    )

    assert _round_of("CORRECTNESS_r02.json") == 2
    assert _round_of("/x/CORRECTNESS_r10.json") == 10  # not lexicographic

    verdicts = _merged_verdicts()
    if not verdicts:  # fresh checkout without artifacts
        return
    reg = get_registry()
    names = list(reg)
    failed = {n for n in names if n in verdicts and not verdicts[n][0]}
    # never driver-checked, or rows-only-checked before gaining an
    # oracle (the hash verdict is still outstanding)
    unchecked = {
        n
        for n in names
        if n not in failed
        and (
            n not in verdicts
            or (verdicts[n][2] and reg[n].oracle is not None)
        )
    }
    head = names[: len(failed) + len(unchecked)]
    assert set(head) == failed | unchecked
    assert set(head[: len(failed)]) == failed
    # greens are non-decreasing in verdict round (stalest first)
    tail = names[len(failed) + len(unchecked):]
    green_rounds = [verdicts[n][1] for n in tail]
    assert green_rounds == sorted(green_rounds)


def test_oracle_diff_artifact(tmp_path, monkeypatch):
    """A value mismatch writes row-level forensics to the repo root."""
    import json
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    )
    import check_oracle as co

    # redirect the artifact away from the real repo root
    monkeypatch.setattr(co, "_REPO_ROOT", str(tmp_path))
    co._write_diff_artifact(
        "demo",
        ["k", "v"],
        [(1, "a"), (2, "b")],
        ["k", "v"],
        [(1, "a"), (2, "c")],
        {"duckdb": "x", "pyspark": "y"},
    )
    data = json.loads((tmp_path / "ORACLE_DIFF_demo.json").read_text())
    assert data["versions"] == {"duckdb": "x", "pyspark": "y"}
    assert data["spark_only_rows"] and data["oracle_only_rows"]


def test_driver_contract_exports_registry():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    reg = get_registry()
    assert set(m.queries()) == set(reg)
    assert set(m.oracle_sql()) == {k for k, q in reg.items() if q.oracle}
