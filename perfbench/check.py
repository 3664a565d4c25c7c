"""Output checks: DuckDB oracles for registry queries, the pure-Python
reference replay for the MapReduce jobs, and stable output hashes for
the queries that have no oracle.

Rows are compared as order-insensitive multisets over columns sorted
by name, the way the engine's own oracle gate compares them; floats
are equal within a relative 1e-9, because the two engines may sum in
a different order.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os


def canon(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((canon(k), canon(x)) for k, x in v.items()))
    return str(v)


def _sort_key(row) -> str:
    def rounded(v):
        if isinstance(v, float):
            return float(f"{v:.6g}")
        if isinstance(v, tuple):
            return tuple(rounded(x) for x in v)
        return v

    return repr(rounded(row))


def multiset(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        (tuple(canon(r[i]) for i in order) for r in rows), key=_sort_key
    )


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return _close(float(a), float(b))
    return a == b


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(_close(g, w) for g, w in zip(got, want))


def digest(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result, for queries with no oracle."""
    ms = multiset(columns, rows)
    payload = repr((sorted(columns), [_sort_key(r) for r in ms]))
    return hashlib.sha256(payload.encode()).hexdigest()


def _untuple(v):
    return tuple(_untuple(x) for x in v) if isinstance(v, list) else v


def _cache_key(sf_dir: str, oracles: dict[str, str]) -> str:
    """sha256 over the oracle SQL and the bytes of every input file,
    so a change to either recomputes the expected rows."""
    h = hashlib.sha256()
    for q in sorted(oracles):
        h.update(f"{q}\0{oracles[q]}\0".encode())
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as f:
            h.update(f"{name}\0".encode())
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def oracle_results(
    sf_dir: str, oracles: dict[str, str], cache_path: str
) -> dict[str, dict]:
    """``{query: {"columns": [...], "rows": multiset}}`` from DuckDB,
    cached in ``cache_path`` under a key of the SQL and the input
    bytes (inputs are a pure function of the seed, so one computation
    per seed serves every run)."""
    key = _cache_key(sf_dir, oracles)
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
        if cached.get("key") == key:
            return {
                q: {"columns": v["columns"], "rows": [_untuple(r) for r in v["rows"]]}
                for q, v in cached["results"].items()
            }
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in os.listdir(sf_dir):
        if name.endswith(".parquet"):
            path = os.path.join(sf_dir, name)
            con.execute(
                f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')"
            )
    out = {}
    for q, sql in oracles.items():
        res = con.sql(sql)
        cols = list(res.columns)
        out[q] = {"columns": cols, "rows": multiset(cols, res.fetchall())}
    con.close()
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    tmp = f"{cache_path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"key": key, "results": out}, f)
    os.replace(tmp, cache_path)
    return out
