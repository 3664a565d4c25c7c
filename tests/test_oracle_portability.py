"""Oracle portability lint: the DuckDB oracle strings must evaluate
to engine-version-stable types, or the driver's gate (whose DuckDB
version we don't control) can hash-mismatch a correct Spark result.

Round-2 lesson: two driver hash-fails (`sessionization`,
`sequence_packing`) were rows+schema green and unreproducible locally.
Both oracles leaked a version-fragile type into their OUTPUT:
- `sum(<integer>)` returns HUGEINT (INT128) in DuckDB, and the
  HUGEINT -> pandas dtype mapping differs across DuckDB releases;
- events.ts is parquet TIMESTAMP(NANOS): DuckDB <= 1.0 truncates to
  µs at read, >= 1.1 preserves ns (TIMESTAMP_NS), while Spark always
  truncates — ordering/interval arithmetic on the raw column then
  evaluates on values Spark never sees.

These tests pin the whole oracle corpus against both classes.
"""

from __future__ import annotations

import json

import duckdb
import pytest

from distributedmapreduce_spark.plans.core import EVENTS_US
from distributedmapreduce_spark.plans.registry import get_registry
from distributedmapreduce_spark.sources.testdata import TABLES

SF_DIR = "/root/testdata/sf0.01"

# types whose cross-version behavior (pandas mapping, precision,
# comparison semantics) is not stable enough for a bit-identical gate
FRAGILE = ("HUGEINT", "UHUGEINT", "TIMESTAMP_NS", "TIME_NS")

# most times a CTE body may run once DuckDB inlines it at every
# reference (ORACLE_PORTABILITY.md "CTE expansion discipline")
MAX_CTE_RUNS = 8


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return c


def test_no_fragile_output_types(con):
    """Every oracle's output columns must be version-stable types."""
    offenders = {}
    for name, q in get_registry().items():
        if not q.oracle:
            continue
        rel = con.sql(q.oracle)
        fragile = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if str(t) in FRAGILE or str(t).startswith("DECIMAL")
        ]
        if fragile:
            offenders[name] = fragile
    assert not offenders, offenders


def test_md5_uniform_sql_portable(con):
    """The oracle-side md5 uniform converts hex arithmetically
    (strpos per digit) instead of CAST('0x..' AS BIGINT), which only
    DuckDB >= 0.10 supports.  Assert the arithmetic form equals the
    hex-cast form bit-for-bit over the whole documents table (this
    host has a cast-capable DuckDB, so both forms evaluate)."""
    from distributedmapreduce_spark.plans.llm3 import _TWO32, _md5_uniform_sql

    hex_cast = (
        "CAST(concat('0x', substr(md5(concat('t:', "
        f"CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / {_TWO32}"
    )
    n_bad = con.sql(
        f"SELECT count(*) FROM documents "
        f"WHERE {_md5_uniform_sql('t', 'doc_id')} <> {hex_cast}"
    ).fetchone()[0]
    assert n_bad == 0


def test_events_ts_oracles_are_microsecond_pinned():
    """Any oracle that touches events.ts must read it through the
    µs-pinned EVENTS_US relation (CAST(ts AS TIMESTAMP)) so DuckDB
    can never see more timestamp precision than Spark does."""
    unpinned = []
    for name, q in get_registry().items():
        if not q.oracle:
            continue
        sql = q.oracle
        mentions_events = "events" in sql
        mentions_ts = " ts" in sql or "(ts" in sql or ".ts" in sql
        if mentions_events and mentions_ts and EVENTS_US not in sql:
            unpinned.append(name)
    assert not unpinned, unpinned


def test_hugeint_double_cast_matches_python(con):
    """The int128 sufficient-statistic construct (spearman: Spark
    decimal(38,0) sums == DuckDB HUGEINT sums, consumed via CAST(x AS
    DOUBLE) in the rho chain) relies on HUGEINT→DOUBLE being
    round-to-nearest exactly like Python's int→float — including
    values past 2^63 where BIGINT would have overflowed.  Pin it."""
    vals = [
        0,
        1,
        2**53 + 1,
        2**63 - 1,
        2**63 + 12345,
        5 * 10**19 + 7,
        2**90 + 999,
    ]
    for v in vals:
        got = con.sql(
            f"SELECT CAST(CAST({v // 2} AS HUGEINT) * 2 + {v % 2}"
            " AS DOUBLE)"
        ).fetchone()[0]
        assert got == float(v), (v, got)


def _cte_runs(sql: str) -> dict[str, int]:
    """How many times each CTE body of ``sql`` runs when DuckDB
    inlines every non-MATERIALIZED CTE at each reference: a reference
    from the main query counts once, one from inside another inlined
    CTE counts as often as that CTE's body runs, and a MATERIALIZED
    body runs once per run of its WITH.  Parse-only: reads DuckDB's
    own parse tree from json_serialize_sql.  A recursive CTE's
    reference to itself is not counted."""
    raw = duckdb.connect().execute(
        "SELECT json_serialize_sql(?::VARCHAR)", [sql]
    ).fetchone()[0]
    tree = json.loads(raw)
    assert not tree["error"], tree.get("error_message")
    runs: dict[tuple[str, int], int] = {}

    def walk(node, mult: int, scope: dict) -> None:
        if isinstance(node, list):
            for x in node:
                walk(x, mult, scope)
            return
        if not isinstance(node, dict):
            return
        if node.get("type") == "CTE_NODE":
            # wrapper DuckDB adds per MATERIALIZED CTE; its child
            # carries the whole WITH list again
            walk(node["child"], mult, scope)
            return
        if node.get("type") == "BASE_TABLE" and not node["schema_name"]:
            key = scope.get(node["table_name"])
            if key is not None:
                runs[key] += mult
            return
        ctes = (node.get("cte_map") or {}).get("map") or []
        if not ctes:
            for v in node.values():
                walk(v, mult, scope)
            return
        keys = [(c["key"], id(c)) for c in ctes]
        for key in keys:
            runs[key] = 0
        walk(
            {k: v for k, v in node.items() if k != "cte_map"},
            mult,
            {**scope, **{k[0]: k for k in keys}},
        )
        # a CTE sees only the CTEs before it, so walking the list
        # backwards settles each count before its body is walked
        for i in reversed(range(len(ctes))):
            value = ctes[i]["value"]
            if value["materialized"] == "CTE_MATERIALIZE_ALWAYS":
                runs[keys[i]] = min(runs[keys[i]], mult)
            walk(
                value["query"],
                runs[keys[i]],
                {**scope, **{k[0]: k for k in keys[:i]}},
            )

    for statement in tree["statements"]:
        walk(statement["node"], 1, {})
    out: dict[str, int] = {}
    for (name, _), n in runs.items():
        out[name] = max(out.get(name, 0), n)
    return out


def test_cte_run_count_sees_reinlining():
    """The counter behind the guard below: a 4-round chain whose
    round k reads round k-1 twice runs its base 2^4 times inlined,
    once materialized."""
    rounds = ",".join(
        f"c{k} AS{{mat}} (SELECT a.x FROM c{k - 1} a, c{k - 1} b)"
        for k in range(1, 5)
    )
    chain = "WITH c0 AS{mat} (SELECT 1 AS x)," + rounds + " SELECT * FROM c4"
    assert _cte_runs(chain.format(mat="")) == {
        "c0": 16, "c1": 8, "c2": 4, "c3": 2, "c4": 1
    }
    assert set(_cte_runs(chain.format(mat=" MATERIALIZED")).values()) == {1}


def test_no_cte_body_reinlined_past_limit():
    """Every registered oracle keeps each CTE body to at most
    MAX_CTE_RUNS runs: a CTE read by several consumers, or an
    iterative chain whose round k reads round k-1 more than once, is
    marked MATERIALIZED.  Inlined, such chains grow as 2^K and ran out
    of memory at the 10x/100x replicas."""
    offenders = {}
    for name, q in get_registry().items():
        if not q.oracle:
            continue
        runs = _cte_runs(q.oracle)
        worst = max(runs, key=runs.get, default=None)
        if worst is not None and runs[worst] > MAX_CTE_RUNS:
            offenders[name] = (worst, runs[worst])
    assert not offenders, offenders
