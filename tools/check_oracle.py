"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
at sf0.01, compare row count + column names + order-insensitive
values.  Usage:

    python3 tools/check_oracle.py [query_name ...]

Forensics (round-2 lesson: two driver hash-fails were unreproducible
locally and the artifacts carried no evidence): every run prints the
duckdb/pyspark versions, and any value mismatch writes
``ORACLE_DIFF_<query>.json`` to the repo root with both engines'
versions and the first 20 differing canonical rows from each side —
so a driver/local disagreement always ships row-level evidence.
"""

from __future__ import annotations

import math
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

from distributedmapreduce_spark.sources.testdata import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, int):
        return v
    if hasattr(v, "isoformat"):  # date/datetime
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return str(v)


def _rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows), key=repr
    )


def _write_diff_artifact(name, scols, srows, dcols, drows, versions):
    """Persist row-level mismatch evidence (first 20 differing rows
    per engine, canonicalized) so a gate disagreement is debuggable
    after the fact."""
    import json

    sm = _rows_to_multiset(srows, scols)
    dm = _rows_to_multiset(drows, dcols)
    sset, dset = set(map(repr, sm)), set(map(repr, dm))
    spark_only = [r for r in sm if repr(r) not in dset][:20]
    duck_only = [r for r in dm if repr(r) not in sset][:20]
    out = {
        "query": name,
        "versions": versions,
        "columns_sorted": sorted(scols),
        "spark_rows": len(srows),
        "oracle_rows": len(drows),
        "spark_only_rows": [[repr(v) for v in r] for r in spark_only],
        "oracle_only_rows": [[repr(v) for v in r] for r in duck_only],
    }
    path = os.path.join(_REPO_ROOT, f"ORACLE_DIFF_{name}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"        wrote {path}")


def main() -> int:
    import duckdb
    import pyspark

    import __spark_entry__ as E
    from distributedmapreduce_spark.session import get_spark

    versions = {"duckdb": duckdb.__version__, "pyspark": pyspark.__version__}
    print(f"engines: {versions}")

    # --json PATH: also write a driver-schema verdict map
    # {name: {rows_match, schema_match, hash_match, spark_rows,
    # oracle_rows, err}} covering every query run — the
    # CORRECTNESS_LOCAL_r{N}.json artifact (VERDICT r06 next-round #1:
    # verdicts for the registry queries the driver's 50-per-round
    # sample has never reached).  hash_match here is the full
    # order-insensitive multiset compare — strictly stronger than a
    # value hash.
    args = sys.argv[1:]
    json_out: str | None = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print(
                "usage: check_oracle.py [--json OUT_PATH] [query ...]",
                file=sys.stderr,
            )
            sys.exit(2)
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    verdicts: dict[str, dict] = {}

    only = set(args)
    if os.environ.get("SPARK_GRAFT_VANILLA") == "1":
        # driver-parity mode: a bare SparkSession with NONE of the
        # engine factory's settings — every query must still pass
        # (the engine may not assume its own session configuration;
        # round 1's six failures were exactly such an assumption)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[16]")
            .appName("check_oracle_vanilla")
            .config("spark.driver.memory", "16g")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        # ansi=True: oracle runs are correctness surfaces — overflow
        # past a plan's documented int64 headroom must raise, not wrap
        spark = get_spark(
            app_name="check_oracle", cpus=16, driver_memory="16g", ansi=True
        )
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.isdir(path):  # Spark-written dataset (tools/gen_scale.py)
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    n_run = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        # full-sweep cache discipline (ADVICE r08): 319 queries'
        # retained persists would otherwise accumulate all sweep and
        # thrash LRU at the larger replicas — release between cohorts
        # of 40 (shared trainers rebuild at most a handful of times)
        if not only and n_run and n_run % 40 == 0:
            from distributedmapreduce_spark.session import release_caches

            release_caches(spark)
        n_run += 1
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            verdicts[name] = {
                "rows_match": None,
                "schema_match": None,
                "hash_match": None,
                "spark_rows": None,
                "oracle_rows": None,
                "err": f"spark: {e}"[:300],
            }
            continue
        if name not in oracles:
            print(
                f"ROWS  {name}: {len(srows)} rows, cols={scols} "
                f"({time.time()-t0:.1f}s) [rows-only]"
            )
            if len(srows) == 0:
                print(f"WARN  {name}: zero rows")
            verdicts[name] = {
                "rows_match": None,
                "schema_match": None,
                "hash_match": None,
                "spark_rows": len(srows),
                "oracle_rows": None,
                "err": "no_oracle",
            }
            continue
        try:
            res = con.sql(oracles[name])
            dcols = res.columns
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            verdicts[name] = {
                "rows_match": None,
                "schema_match": None,
                "hash_match": None,
                "spark_rows": len(srows),
                "oracle_rows": None,
                "err": f"duckdb: {e}"[:300],
            }
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        ok_vals = False
        if ok_cols and ok_count:
            ok_vals = _rows_to_multiset(srows, scols) == _rows_to_multiset(
                drows, dcols
            )
        status = "PASS " if (ok_cols and ok_count and ok_vals) else "FAIL "
        if status == "FAIL ":
            failures.append(name)
        verdicts[name] = {
            "rows_match": ok_count,
            "schema_match": ok_cols,
            "hash_match": ok_vals,
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": None,
        }
        print(
            f"{status} {name}: rows {len(srows)}/{len(drows)} "
            f"cols={'ok' if ok_cols else (scols, dcols)} "
            f"vals={'ok' if ok_vals else 'MISMATCH'} ({time.time()-t0:.1f}s)"
        )
        if not ok_vals and ok_cols and ok_count:
            sm = _rows_to_multiset(srows, scols)
            dm = _rows_to_multiset(drows, dcols)
            diff = [(a, b) for a, b in zip(sm, dm) if a != b][:3]
            for a, b in diff:
                print(f"        spark={a}\n        duck ={b}")
        if not (ok_cols and ok_count and ok_vals):
            _write_diff_artifact(name, scols, srows, dcols, drows, versions)
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL PASS")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(verdicts, f, indent=1, sort_keys=True)
        print(f"wrote {json_out} ({len(verdicts)} verdicts)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
