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

from plan_fingerprint import normalize_plan, replica_fingerprint  # noqa: E402


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
