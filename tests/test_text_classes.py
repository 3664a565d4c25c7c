"""Brute-force parity for the class-pair text near-dup family
(dedup_simhash_classes / dedup_minhash_classes /
dedup_jaccard_classes — VERDICT r12 task 8's covering variants).

Each REGISTERED oracle is checked against an independent naive Python
implementation of the mathematical definition (all class pairs, no
candidate filter), DuckDB-only (no Spark session) so the hypothesis
loop stays fast.  The simhash and jaccard oracles generate candidates
through the production filters (4x4-bit Hamming banding, the Bayardo
prefix filter), so this equality is also the completeness proof of
those filters on adversarial inputs, not just on the fixture corpus.

Duplicate documents are forced into most examples so the class
multiplicities (n_a, n_b, n_*_pairs) are exercised above 1.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd
from hypothesis import given, settings, strategies as st

from distributedmapreduce_spark.plans.core import registry
from distributedmapreduce_spark.plans.llm import (
    _JC_TAU_E6,
    _PMH_BANDS,
    _PMH_N,
    _PMH_TAU_E6,
    _PSH_BITS,
    _PSH_HAM,
)

_WORDS = ["ox", "elk", "bee", "cod", "fox", "ant", "owl", "ram"]

# a document is a list of word indices; duplicates of whole docs are
# injected by drawing from a small pool of "base" docs, and near
# duplicates by editing a drawn doc: edit None keeps it, -1 / -2 drop
# its last / first word, w >= 0 appends word w — so class pairs above
# the similarity thresholds (the pairs a candidate filter can miss)
# occur in most examples, not only by chance
docs_strategy = st.lists(
    st.lists(st.integers(min_value=0, max_value=7), min_size=0, max_size=9),
    min_size=1,
    max_size=8,
).flatmap(
    lambda pool: st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=len(pool) - 1),
            st.none() | st.integers(min_value=-2, max_value=7),
        ),
        min_size=1,
        max_size=24,
    ).map(lambda picks: [_edited(pool[p], e) for p, e in picks])
)


def _edited(doc, edit):
    if edit is None:
        return doc
    if edit < 0:
        return doc[:-1] if edit == -1 else doc[1:]
    return doc + [edit]


def _md5_u32(tag: str, value: str) -> int:
    return int(
        hashlib.md5(f"{tag}:{value}".encode()).hexdigest()[:8], 16
    )


def _docs_df(docs):
    return pd.DataFrame(
        {
            "doc_id": range(1, len(docs) + 1),
            "text": [" ".join(_WORDS[i] for i in d) for d in docs],
            "lang": "en",
            "source": "t",
        }
    )


def _con(df):
    con = duckdb.connect()
    con.register("documents", df)
    return con


def _run_chained(con, name):
    return con.execute(registry()[name].oracle).df()


def _canon(df):
    return sorted(map(tuple, df.itertuples(index=False)))


def _words(text):
    return [w for w in text.lower().split(" ") if w != ""]


def _shingle_hashes(text):
    ws = _words(text)
    if len(ws) < 3:
        return frozenset()
    return frozenset(
        _md5_u32("J", " ".join(ws[i : i + 3])) for i in range(len(ws) - 2)
    )


def _jac_e6(a: frozenset, b: frozenset) -> int:
    inter = len(a & b)
    return int(inter / (len(a) + len(b) - inter) * 1e6)


def _naive_simhash_classes(df):
    sigs = {}
    for doc_id, text in zip(df.doc_id, df.text):
        ws = set(_words(text))
        if not ws:
            continue
        hs = [_md5_u32("S", w) for w in ws]
        sig = 0
        for k in range(_PSH_BITS):
            if 2 * sum((h >> k) & 1 for h in hs) > len(hs):
                sig |= 1 << k
        sigs.setdefault(sig, []).append(doc_id)
    cls = {s: (len(ids), min(ids)) for s, ids in sigs.items()}
    out = []
    for sa in cls:
        for sb in cls:
            if sa < sb and bin(sa ^ sb).count("1") <= _PSH_HAM:
                (na, ra), (nb, rb) = cls[sa], cls[sb]
                out.append(
                    (sa, sb, bin(sa ^ sb).count("1"), na, nb, ra, rb, na * nb)
                )
    return sorted(out)


def _naive_minhash_classes(df):
    rows = {}
    for doc_id, text in zip(df.doc_id, df.text):
        ws = _words(text)
        if len(ws) < 3:
            continue
        shingles = {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        hs = frozenset(_md5_u32("J", s) for s in shingles)
        sig = tuple(
            min(_md5_u32(str(i), s) for s in shingles)
            for i in range(_PMH_N)
        )
        rows.setdefault(sig, []).append((doc_id, hs))
    cls = {
        sig: (len(m), min(m)[0], min(m)[1]) for sig, m in rows.items()
    }
    out = []
    for sa, (na, ra, ha) in cls.items():
        for sb, (nb, rb, hb) in cls.items():
            if ra >= rb:
                continue
            if not any(
                (sa[2 * b], sa[2 * b + 1]) == (sb[2 * b], sb[2 * b + 1])
                for b in range(_PMH_BANDS)
            ):
                continue
            j = _jac_e6(ha, hb)
            if j >= _PMH_TAU_E6:
                out.append((ra, rb, j, na, nb, na * nb))
    return sorted(out)


def _naive_jaccard_classes(df):
    rows = {}
    for doc_id, text in zip(df.doc_id, df.text):
        hs = _shingle_hashes(text)
        if hs:
            rows.setdefault(hs, []).append(doc_id)
    cls = [(min(ids), len(ids), hs) for hs, ids in rows.items()]
    out = []
    for ra, na, ha in cls:
        for rb, nb, hb in cls:
            if ra < rb and _jac_e6(ha, hb) >= _JC_TAU_E6:
                out.append((ra, rb, _jac_e6(ha, hb), na, nb, na * nb))
    return sorted(out)


@settings(max_examples=30, deadline=None)
@given(docs_strategy)
def test_simhash_classes_oracle_matches_brute_force(docs):
    con = _con(_docs_df(docs))
    got = _canon(_run_chained(con, "dedup_simhash_classes"))
    assert got == _naive_simhash_classes(_docs_df(docs))


@settings(max_examples=30, deadline=None)
@given(docs_strategy)
def test_minhash_classes_oracle_matches_brute_force(docs):
    con = _con(_docs_df(docs))
    got = _canon(_run_chained(con, "dedup_minhash_classes"))
    assert got == _naive_minhash_classes(_docs_df(docs))


@settings(max_examples=30, deadline=None)
@given(docs_strategy)
def test_jaccard_classes_oracle_matches_brute_force(docs):
    con = _con(_docs_df(docs))
    got = _canon(_run_chained(con, "dedup_jaccard_classes"))
    assert got == _naive_jaccard_classes(_docs_df(docs))
