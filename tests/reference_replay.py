"""Pure-Python replay of the reference's verified semantics
(SURVEY.md §1.1-1.2, §5.2) — the oracle for the text-pipeline tests.

Derived from master.py:31-47 (preprocess + cursor),
mapper_word_count.py:11-22 (tokenize), reducer_*.py:11-18 (aggregate).
Operates on raw lines WITHOUT trailing newlines (spark.read.text
convention): a raw "\\n" line is represented as "".
"""

from __future__ import annotations

import os
import random
import re
from collections import defaultdict

import pytest

REFERENCE_INPUT = "/root/reference/input.txt"

# The canonical input has no copy in this repo: the golden checks that
# read it run only where the reference tree is present.
needs_reference_input = pytest.mark.skipif(
    not os.path.exists(REFERENCE_INPUT),
    reason=f"needs the reference input {REFERENCE_INPUT}",
)

CLEAN_RE = re.compile(r"[^a-zA-Z0-9 ]")


def replay_lines(raw_lines: list[str]) -> list[tuple[int, str, int]]:
    """-> [(line_id, cleaned_line, byte_offset)] for kept (non-blank) lines."""
    out = []
    cursor = 0
    for i, raw in enumerate(raw_lines):
        if raw == "":
            cursor += 1  # reference: raw "\n" advances by len("\n") == 1
            continue
        cleaned = CLEAN_RE.sub("", raw)
        out.append((i, cleaned, cursor))
        cursor += len(cleaned)
    return out


def replay_tokens(lines: list[tuple[int, str, int]]) -> list[tuple[str, int]]:
    pairs = []
    for _line_id, cleaned, base in lines:
        off = base
        for tok in cleaned.split(" "):
            if tok == "":
                continue  # empty tokens emit nothing and advance nothing
            pairs.append((tok, off))
            off += len(tok) + 1
    return pairs


def replay_word_count(pairs: list[tuple[str, int]]) -> dict[str, int]:
    counts: dict[str, int] = defaultdict(int)
    for w, _ in pairs:
        counts[w] += 1
    return dict(counts)


def replay_inverted_index(pairs: list[tuple[str, int]]) -> dict[str, list[int]]:
    postings: dict[str, list[int]] = defaultdict(list)
    for w, off in pairs:
        postings[w].append(off)
    return {w: sorted(v) for w, v in postings.items()}


def quirk_lines(n: int, seed: int = 0) -> list[str]:
    """``n`` seeded raw lines rich in the pipeline's quirks: blank
    lines, whitespace-only lines, punctuation-only lines (kept, no
    tokens), runs of spaces, leading/trailing spaces and punctuation
    inside words."""
    rng = random.Random(seed)
    words = ["alpha", "beta", "Gamma", "don't", "42nd", "x", "street!", "a.b", "9"]
    out = []
    for _ in range(n):
        kind = rng.random()
        if kind < 0.1:
            out.append("")
        elif kind < 0.15:
            out.append(" " * rng.randint(1, 4))
        elif kind < 0.2:
            out.append("".join(rng.choice("!?.,;:-'") for _ in range(rng.randint(1, 6))))
        else:
            toks = [rng.choice(words) for _ in range(rng.randint(1, 12))]
            seps = [" " * rng.choice((1, 1, 1, 2, 3)) for _ in toks]
            lead = " " * rng.choice((0, 0, 0, 1, 2))
            out.append(lead + "".join(t + s for t, s in zip(toks, seps)).rstrip(" ")
                       + " " * rng.choice((0, 0, 1)))
    return out


def load_reference_input(path: str = REFERENCE_INPUT) -> list[str]:
    with open(path, encoding="utf-8", errors="surrogateescape") as f:
        content = f.read()
    # splitlines() mirrors spark.read.text: no trailing-newline tokens
    return content.split("\n")[:-1] if content.endswith("\n") else content.split("\n")
