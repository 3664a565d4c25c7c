"""Solution-store parity (reference operators S15/S16/S19).

The reference's output sink is a JSON-file KV namespace with
upsert-by-key (last-writer-wins) and point lookup returning ``False``
on a missing key (database_server.py:88-116); the driver scp's the
JSON file home (driver.py:144).

Spark-native equivalent: a parquet relation with MERGE-like upsert
semantics (anti-join + union — the Delta-less formulation), point
lookup via a key filter (pushed down to the parquet scan), and export
via collect.  Keys are strings, values one column of any type — the
store is relational, not dynamically typed: one store per value schema
(SURVEY.md §1.3).

On disk, ``path`` is a directory holding one live version,
``v<20-digit number>``.  An upsert writes the merged relation ONCE,
into ``path/.tmp-<pid>``, and publishes it with one ``os.rename`` to
the next version number (index_store's temp-dir + atomic-rename
convention); the superseded version and any stale ``.tmp-*`` dirs are
removed after the rename.  A version dir appears only by the rename
of a finished write, and readers take the highest-numbered one, so a
kill at any point leaves either the previous version or the new one
readable, never a partial write.  Every byte stays under ``path``.
Parquet written straight to ``path`` (outside ``upsert``) is read
as-is until an upsert supersedes it.  One writer at a time: an upsert
removes every ``.tmp-*`` dir it finds.

A version never changes once renamed in, so the store holds one
reader over the live version, built from the schema of the write with
``spark.read.schema``: neither ``get`` nor ``upsert`` runs a
schema-inference job or lists files again.  A store opened on existing
data infers the schema once per live version it has not written
itself.
"""

from __future__ import annotations

import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _version_no(name: str) -> int | None:
    return int(name[1:]) if name[:1] == "v" and name[1:].isdigit() else None


class SolutionStore:
    """Keyed result store backed by parquet under ``path``.

    upsert(df): last-writer-wins per key (S15's overwrite semantics).
    get(key):   value or None (the reference returns False; None is the
                Pythonic spelling of the same contract).
    """

    def __init__(
        self, spark: SparkSession, path: str, key_col: str = "key"
    ) -> None:
        self.spark = spark
        self.path = path
        self.key_col = key_col
        # (live version dir, a reader over it) of the last write or read
        self._held: tuple[str, DataFrame] | None = None

    def _live(self) -> tuple[int, str | None]:
        """(number, dir) of the live version; (0, path) for parquet
        written straight to ``path``; (0, None) for an empty store."""
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return 0, None
        versions = [n for n in map(_version_no, names) if n is not None]
        if versions:
            n = max(versions)
            return n, os.path.join(self.path, f"v{n:020d}")
        plain = any(
            not name.startswith((".", "_"))
            and os.path.isfile(os.path.join(self.path, name))
            for name in names
        )
        return 0, self.path if plain else None

    def _read(self, live: str) -> DataFrame:
        if self._held is None or self._held[0] != live:
            # not written by this store: infer the schema once
            self._held = (live, self.spark.read.parquet(live))
        return self._held[1]

    def _current(self) -> DataFrame | None:
        _, live = self._live()
        return None if live is None else self._read(live)

    def upsert(self, df: DataFrame) -> None:
        """MERGE by key without Delta: keep current rows whose key is
        absent from the batch (left_anti), union the new batch.  The
        anti-join shuffles only on the key; at warehouse scale you'd
        swap this for Delta/Iceberg MERGE INTO keeping the same
        semantics."""
        n, live = self._live()
        if live is not None:
            keep = self._read(live).join(
                F.broadcast(df.select(self.key_col).distinct()),
                self.key_col,
                "left_anti",
            )
            df = keep.unionByName(df)
        dest = os.path.join(self.path, f"v{n + 1:020d}")
        tmp = os.path.join(self.path, f".tmp-{os.getpid()}")
        try:
            df.write.mode("overwrite").parquet(tmp)
            os.rename(tmp, dest)
        except BaseException:
            # best effort: tasks the failed job is still cancelling can
            # write on; the next upsert removes what they leave
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        self._held = (dest, self.spark.read.schema(df.schema).parquet(dest))
        # dest is live from the rename on; everything else is garbage
        for name in os.listdir(self.path):
            p = os.path.join(self.path, name)
            if p == dest:
                continue
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)

    def get(self, key: Any) -> Any | None:
        """Point lookup; the key predicate reaches the parquet scan
        (PushedFilters), so only matching row groups are read."""
        current = self._current()
        if current is None:
            return None
        rows = current.filter(F.col(self.key_col) == key).limit(2).collect()
        if not rows:
            return None
        if len(rows) > 1:
            # upsert() guarantees key uniqueness; duplicates mean the
            # backing parquet was written externally. Fail loudly with
            # the key instead of a bare unpack ValueError.
            raise ValueError(
                f"duplicate rows for key {key!r} in solution store "
                f"{self.path} — written outside upsert()?"
            )
        (row,) = rows
        others = [c for c in row.asDict() if c != self.key_col]
        if len(others) == 1:
            return row[others[0]]
        return {c: row[c] for c in others}

    def to_local(self) -> dict[Any, Any]:
        """S19: collect the whole store to the client (small results)."""
        current = self._current()
        if current is None:
            return {}
        out = {}
        for row in current.collect():
            d = row.asDict()
            k = d.pop(self.key_col)
            out[k] = next(iter(d.values())) if len(d) == 1 else d
        return out
