"""The engine's text rules, as Spark column expressions.

Every Spark-side word split, n-gram, line clean and text
normalization in the package goes through this module (the DuckDB
oracle SQL and the reference's user-Python tokenizers spell the same
rules on their own, as the references they are):

- ``clean_line``: the reference's line cleaner (master.py:43);
- ``tokens``: split on single spaces and drop the empty tokens
  (mapper_word_count.py:16-18), so runs of spaces yield no token;
- ``ngrams``: the consecutive word n-grams of a token array, repeats
  kept; ``shingles`` is their distinct set over lowercase tokens;
- ``norm_text``: lowercase, space runs collapsed, ends trimmed; its
  md5 is ``norm_fingerprint``, the exact-dedup key.

All built-ins: ``tokens`` and ``clean_line`` run in whole-stage
codegen; ``ngrams`` uses ``zip_with``, which Spark interprets, but in
linear time.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CLEAN_RE = "[^a-zA-Z0-9 ]"


def clean_line(col) -> Column:
    """The reference's line cleaner (master.py:43): strip everything
    outside [a-zA-Z0-9 ]."""
    return F.regexp_replace(col, CLEAN_RE, "")


def tokens(col, lowercase: bool = False) -> Column:
    """Non-empty single-space-split tokens (mapper_word_count.py:16-18)."""
    base = F.lower(col) if lowercase else F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(base, " "), "")


def ngrams(ws: Column, n: int) -> Column:
    """The word n-grams of token array ``ws``, in order and with
    repeats (a k-token array yields max(k - n + 1, 0) of them), each
    its tokens joined by single spaces; ``n == 1`` returns ``ws``.
    Linear-time: zip_with of shifted token arrays (sequence+slice is
    O(tokens^2) interpreted)."""
    if n == 1:
        return ws
    acc = ws
    for k in range(1, n):
        shifted = F.slice(ws, k + 1, F.greatest(F.size(ws) - k, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    # zip_with pads with null and concat_ws drops nulls — trim the
    # short tail entries explicitly
    return F.slice(acc, 1, F.greatest(F.size(ws) - (n - 1), F.lit(0)))


def shingles(col, n: int = 3) -> Column:
    """Distinct lowercase word n-gram shingles of text column ``col``."""
    return F.array_distinct(ngrams(tokens(col, lowercase=True), n))


def norm_text(col) -> Column:
    """Lowercase text with space runs collapsed and ends trimmed."""
    return F.lower(F.trim(F.regexp_replace(col, " +", " ")))


def norm_fingerprint(col) -> Column:
    """md5 of ``norm_text`` (exact-dedup key)."""
    return F.md5(norm_text(col))
