"""Seeded input generators for the benchmark workloads.

The star schema, documents and embeddings are the engine's sf0.01 test
tables, kept under ``perfbench/data/sf0.01``.  A seed rewrites them
with a bijective relabelling of every surrogate-key domain, consistent
across the tables that join on it, and a seeded row order; every other
value is kept, so the value distributions are those of the real
tables, the schema and row counts are the same for every seed, and no
new ties appear.  The text of the MapReduce workload is synthesized:
Zipf tokens over a fixed synthetic vocabulary.  The same seed writes
byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# each surrogate-key domain and every column that holds its keys;
# nation and region keys are fixed dimensions and stay as they are
KEY_DOMAINS = {
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "event_id": [("events", "event_id")],
    "user_id": [("events", "user_id")],
    # one relabelling for both, in case a query pairs a document with
    # the embedding of the same id
    "item_id": [("documents", "doc_id"), ("embeddings", "vec_id")],
}
TEXT_LINES = 4_000
TEXT_VOCAB = 4_000
PUNCT = [",", ".", "!", "?", ";", ":", "'s", "-", "\"", "(", ")"]


def write_star_schema(out_dir: str, seed: int) -> dict[str, dict]:
    """Write the ten tables as ``<out_dir>/<table>.parquet``, relabelled
    and reordered by ``seed``; return ``{table: {rows, bytes}}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    t = {name: pq.read_table(os.path.join(SOURCE, f"{name}.parquet")) for name in TABLES}
    for cols in KEY_DOMAINS.values():
        domain = np.unique(np.concatenate([t[tb].column(c).to_numpy() for tb, c in cols]))
        relabel = rng.permutation(domain)
        for tb, c in cols:
            col = t[tb].column(c)
            new = relabel[np.searchsorted(domain, col.to_numpy())]
            t[tb] = t[tb].set_column(
                t[tb].schema.get_field_index(c), t[tb].schema.field(c), pa.array(new, col.type)
            )
    out = {}
    for name, table in t.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        pq.write_table(table, path, compression="snappy")
        out[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return out


def _vocabulary() -> np.ndarray:
    """A fixed synthetic vocabulary (the same for every seed), in a
    fixed random rank order so the hot words are not alphabetical."""
    rng = np.random.default_rng(20240101)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < TEXT_VOCAB:
        words.add("".join(letters[rng.integers(0, 26, rng.integers(2, 11))]))
    return rng.permutation(np.array(sorted(words)))


def write_zipf_text(path: str, seed: int) -> dict:
    """Write ``TEXT_LINES`` lines of Zipf-distributed tokens.

    Exercises the reference's cleaning and offset rules: blank lines
    (advance the cursor by one), punctuation glued to words and
    standalone (removed by cleaning, so a token can vanish), runs of
    spaces (empty tokens that advance nothing), digits and mixed case.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary()
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()
    n = TEXT_LINES
    blank = rng.random(n) < 0.06
    k = np.where(blank, 0, rng.integers(1, 21, n))
    total = int(k.sum())
    words = vocab[rng.choice(len(vocab), total, p=p)].astype(object)
    r = rng.random(total)
    punct = np.array(PUNCT, dtype=object)[rng.integers(0, len(PUNCT), total)]
    glued = r < 0.08
    words[glued] = words[glued] + punct[glued]
    cap = (r >= 0.08) & (r < 0.10)
    words[cap] = [w.capitalize() for w in words[cap]]
    num = (r >= 0.10) & (r < 0.12)
    words[num] = rng.integers(0, 2000, int(num.sum())).astype(str)
    alone = (r >= 0.12) & (r < 0.13)
    words[alone] = punct[alone] * 2
    seps = np.where(rng.random(n) < 0.05, "  ", " ")
    ends = np.cumsum(k)
    lines = [
        seps[i].join(words[ends[i] - k[i]:ends[i]]) for i in range(n)
    ]
    data = ("\n".join(lines) + "\n").encode("ascii")
    with open(path, "wb") as f:
        f.write(data)
    return {"rows": n, "bytes": len(data)}
