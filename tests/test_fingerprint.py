"""Pins for the cross-round sweep-verdict cache keys
(tools/plan_fingerprint.py — VERDICT r11 #3).

The cache's safety argument is directional: a key may OVER-invalidate
(needless fresh run) but must never UNDER-invalidate (stale verdict
served for changed semantics).  These pins cover the normalization
(session-varying tokens stripped, data-dir paths canonicalized) and
the key's sensitivity to each component it folds in.
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

import json  # noqa: E402
import subprocess  # noqa: E402

from plan_fingerprint import (  # noqa: E402
    diff_plans,
    normalize_plan,
    rdd_leaf_plans,
    replica_fingerprint,
)

_TOOL = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools", "plan_fingerprint.py")


def test_normalize_strips_session_tokens():
    plan = (
        "Project [doc_id#123L, text#4567]\n"
        "+- Relation [doc_id#123L] parquet @3fa9c1d2e0,"
        " <function f at 0x7f00aa11bb22>\n"
        "   location: /root/testdata/sf0.001/documents.parquet"
    )
    out = normalize_plan(plan, "/root/testdata/sf0.001")
    assert "#123" not in out and "#4567" not in out
    assert "0x7f00aa11bb22" not in out
    assert "@3fa9c1d2e0" not in out
    assert "/root/testdata/sf0.001" not in out and "<SF>" in out


def test_normalize_is_idempotent_and_distinguishes_structure():
    a = normalize_plan("Filter (x#1 > 5)\n+- Scan parquet", "/d")
    b = normalize_plan("Filter (x#99 > 5)\n+- Scan parquet", "/d")
    c = normalize_plan("Filter (x#1 > 6)\n+- Scan parquet", "/d")
    assert a == b  # expression ids never re-key
    assert a != c  # a changed literal always re-keys
    assert normalize_plan(a, "/d") == a


def test_replica_fingerprint_tracks_content(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    (d / "t.parquet").write_bytes(b"abc")
    fp1 = replica_fingerprint(str(d))
    (d / "_SUCCESS").write_bytes(b"")  # marker files are ignored
    (d / ".crc").write_bytes(b"x")
    assert replica_fingerprint(str(d)) == fp1
    (d / "t.parquet").write_bytes(b"abcd")  # size change re-keys
    assert replica_fingerprint(str(d)) != fp1


def test_normalize_strips_lambda_variable_counters():
    """PySpark suffixes each lambda variable with a JVM-global counter,
    so the same query built after more lambdas prints a different
    name; the key must not depend on what was built before it."""
    a = normalize_plan(
        "Filter size(filter(ws#12, lambdafunction(NOT (lambda x_165#300 = ),"
        " lambda x_165#300, false)), true) > 0",
        "/d",
    )
    b = normalize_plan(
        "Filter size(filter(ws#12, lambdafunction(NOT (lambda x_7#31 = ),"
        " lambda x_7#31, false)), true) > 0",
        "/d",
    )
    assert a == b
    assert "lambda x#" in a and "x_165" not in a
    # the variable's own name still counts
    c = normalize_plan(
        "Filter size(filter(ws#12, lambdafunction(NOT (lambda y_7#31 = ),"
        " lambda y_7#31, false)), true) > 0",
        "/d",
    )
    assert a != c


def test_plan_diff_gate_on_hand_written_dumps(tmp_path):
    """--diff lists changed, added and removed queries and fails only
    on one that --expect does not name; a failed build (null) that
    turns into a plan is a change."""
    parent = {"a": "Project [x#]", "b": "Filter (y# > 1)", "c": None,
              "gone": "Range (0, 1)"}
    change = {"a": "Project [x#]", "b": "Filter (y# > 2)", "c": "Scan",
              "new": "Range (0, 2)"}
    assert diff_plans(parent, change) == {
        "changed": ["b", "c"], "added": ["new"], "removed": ["gone"],
    }
    assert diff_plans(parent, parent) == {
        "changed": [], "added": [], "removed": [],
    }
    pa, ch = tmp_path / "parent.json", tmp_path / "change.json"
    pa.write_text(json.dumps(parent))
    ch.write_text(json.dumps(change))

    def gate(*expect):
        args = ["--expect", *expect] if expect else []
        return subprocess.run(
            [sys.executable, _TOOL, "--diff", str(pa), str(ch), *args],
            capture_output=True, text=True,
        )

    ok = gate("b", "c", "new", "gone")
    assert ok.returncode == 0, ok.stdout + ok.stderr
    assert "changed: b\n" in ok.stdout and "UNEXPECTED" not in ok.stdout
    bad = gate("b", "new", "gone")
    assert bad.returncode == 1
    assert "changed: c  UNEXPECTED" in bad.stdout
    assert gate().returncode == 1
    same = subprocess.run(
        [sys.executable, _TOOL, "--diff", str(pa), str(pa)],
        capture_output=True, text=True,
    )
    assert same.returncode == 0 and "0 changed" in same.stdout


def test_plan_diff_lists_rdd_leaf_queries(tmp_path):
    """A checkpoint/collected-RDD leaf hides the lineage behind it, so
    --diff names every query whose plan has one, changed or not,
    without failing the gate for it."""
    parent = {"cp": "Project [x#]\n+- LogicalRDD [x#], false",
              "plain": "Range (0, 1)",
              "moved": "Filter (y# > 1)\n+- LogicalRDD [y#], false"}
    change = {**parent,
              "moved": "Filter (y# > 2)\n+- LogicalRDD [y#], false"}
    assert rdd_leaf_plans(change) == ["cp", "moved"]
    pa, ch = tmp_path / "parent.json", tmp_path / "change.json"
    pa.write_text(json.dumps(parent))
    ch.write_text(json.dumps(change))
    out = subprocess.run(
        [sys.executable, _TOOL, "--diff", str(pa), str(ch),
         "--expect", "moved"],
        capture_output=True, text=True,
    )
    assert out.returncode == 0, out.stdout + out.stderr
    tail = out.stdout.split("checkpoint/RDD leaf", 1)[1]
    assert "  cp\n" in tail and "  moved\n" in tail
    assert "plain" not in out.stdout
