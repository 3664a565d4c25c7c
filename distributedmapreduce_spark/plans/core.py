"""Query registry infrastructure.

Every operator from SURVEY.md §2 is registered as a named query:
a (SparkSession, sf_dir) -> DataFrame callable, plus (where the
semantics are SQL-expressible) an equivalent DuckDB SQL string used
as the correctness oracle.  Column names/aliases MUST match between
the Spark result and the oracle — the driver sorts columns by name
before value-hashing.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..sources.testdata import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    """A registered query: ``fn`` builds the Spark DataFrame and
    ``oracle`` is its DuckDB twin, one SQL statement (None -> rows-only
    check).  An oracle whose CTE is referenced more than once — an
    iterative chain whose round k reads round k-1 twice, a corpus
    aggregate read by several consumers — marks that CTE
    ``AS MATERIALIZED``: DuckDB otherwise re-inlines a CTE at every
    reference, and a K-round chain expands into 2^K subtrees
    (ORACLE_PORTABILITY.md "CTE expansion discipline";
    tests/test_oracle_portability.py guards it)."""

    fn: QueryFn
    oracle: str | None


_REGISTRY: dict[str, Query] = {}

# Microsecond-pinned events relation for oracle SQL.  events.parquet
# stores ts as parquet TIMESTAMP(NANOS): Spark surfaces it truncated
# to microseconds (sources/testdata.py — `ts div 1000`), DuckDB <= 1.0
# also truncates at read, but DuckDB >= 1.1 PRESERVES the nanoseconds
# (TIMESTAMP_NS column).  An oracle that orders, subtracts, or
# epoch_us()'s the raw column under a ns-preserving DuckDB evaluates
# on values Spark never sees — round 2's `sessionization` driver
# hash-fail.  Every events oracle must therefore read through this
# µs-pinned relation: the CAST is a no-op under DuckDB <= 1.0 and an
# ns -> µs truncation (plain integer division in DuckDB's
# CastTimestampNsToUs) under >= 1.1, so both engines agree byte-for-
# byte at any engine version.
EVENTS_US = "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"


def query(
    name: str, oracle: str | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Register a named query (and optional DuckDB oracle twin)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(fn, oracle)
        return fn

    return deco


def registry() -> dict[str, Query]:
    return dict(_REGISTRY)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand table loader used by the query definitions."""
    return load_table(spark, name, sf_dir)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin-repartition ``df`` up to the session's default
    parallelism when it arrives with fewer partitions — used in front
    of expensive per-row map work (Python decode panels, per-shingle
    hashing explodes) whose input is either a small-file scan (one
    128 MB split swallows a small corpus parquet) or an
    AQE-coalesced tiny shuffle (coalesced to ONE partition at bench
    scale), both of which would serialize the map stage on a single
    core (guide §2.5 input skew).  No-op when the input is already at
    or above the session's parallelism — a real corpus at scale —
    so the knob is scale-adaptive, not local-mode tuning.  Call it on
    scan-rooted or checkpoint/persist-leaf frames only: the partition
    probe compiles the frame's physical plan, which is only cheap
    when the plan is shallow."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df
