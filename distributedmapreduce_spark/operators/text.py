"""The reference's flagship text pipeline, Spark-first.

Reproduces (verified byte-for-byte in SURVEY.md §5.2) the semantics of
the reference's preprocessing + tokenization + two packaged jobs:

- ``lines``     : S1-S4  (master.py:31-47)   raw text -> cleaned lines
                  with a running virtual byte-offset cursor
- ``tokens``    : S7-S8  (mapper_word_count.py:11-22)  lines ->
                  (word, offset) pairs
- ``word_count``: S13    (reducer_word_count.py:11-18)
- ``inverted_index``: S14 (reducer_inverted_index.py:11-18), postings
                  canonicalized with sort_array (the reference's own
                  posting order is a race, SURVEY.md §5.2)

Offset semantics (the whole subtlety, SURVEY.md §1.1-1.2):
- each non-blank line is cleaned with ``[^a-zA-Z0-9 ]`` -> "" and
  advances the cursor by the CLEANED length;
- blank lines (raw "\\n", i.e. "" from spark.read.text) are dropped
  but advance the cursor by exactly 1;
- within a line, token i sits at line_offset + sum(len(tok)+1) over
  preceding NON-EMPTY tokens — runs of spaces advance nothing.

Everything is built-in-function DataFrame code (whole-stage codegen;
no Python UDFs, and no higher-order lambdas, which Spark interprets
row by row): the line cleaner and the tokenizer are the shared
``functions/text.py`` rules (``clean_line``; ``tokens`` =
``array_remove(split(line, " "), "")``), and a token's offset is the
length of the preceding tokens re-joined by single spaces.  The only
non-declarative piece is the distributed prefix sum for the line
cursor (operators/prefix_sum.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import clean_line, tokens as _tokens
from .prefix_sum import with_prefix_sums


def lines(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """S1-S4: raw lines -> DataFrame[line_id, line, byte_offset].

    ``raw`` must be in file order (spark.read.text over one file).
    Blank raw lines contribute +1 to the cursor and are then dropped;
    other lines contribute their cleaned length and are kept.
    """
    cleaned = raw.select(
        F.col(value_col).alias("__raw"),
        clean_line(F.col(value_col)).alias("line"),
    )
    contrib = F.when(F.col("__raw") == "", F.lit(1)).otherwise(F.length("line"))
    with_offsets = with_prefix_sums(cleaned, {"byte_offset": contrib})
    return (
        with_offsets.filter(F.col("__raw") != "")
        .select(
            F.col("row_ordinal").alias("line_id"),
            "line",
            "byte_offset",
        )
    )


def tokens(lines_df: DataFrame) -> DataFrame:
    """S7-S8: lines -> DataFrame[word, offset].

    Filtering empty tokens BEFORE position arithmetic reproduces the
    reference's no-advance-on-empty-token quirk exactly
    (mapper_word_count.py:18-20): offsets are positions in the line's
    words re-joined by single spaces, anchored at byte_offset.
    """
    toks = _tokens(F.col("line"))
    exploded = lines_df.select(
        F.col("byte_offset"),
        F.col("line_id"),
        toks.alias("__toks"),
    ).select(
        "byte_offset",
        "line_id",
        "__toks",
        F.posexplode("__toks").alias("pos", "word"),
    )
    # sum(len(tok) + 1) over the pos preceding tokens == the length of
    # those tokens joined by single spaces, plus the one space after
    intra = F.when(F.col("pos") == 0, F.lit(0)).otherwise(
        F.length(F.array_join(F.slice("__toks", F.lit(1), F.col("pos")), " "))
        + 1
    )
    return exploded.select(
        "word",
        (F.col("byte_offset") + intra).cast("long").alias("offset"),
        "line_id",
        F.col("pos").alias("token_pos"),
    )


def word_count(tokens_df: DataFrame) -> DataFrame:
    """S13: DataFrame[word, count] — groupBy + count (map-side partial
    aggregation for free; replaces reducer_word_count.py's dict loop)."""
    return tokens_df.groupBy("word").agg(F.count(F.lit(1)).alias("count"))


def inverted_index(tokens_df: DataFrame) -> DataFrame:
    """S14: DataFrame[word, postings: array<long>], postings sorted.

    The reference's posting order is mapper-race order (1,565 of 5,568
    golden lists are unsorted); we canonicalize with sort_array and
    golden comparison is order-insensitive.
    """
    return tokens_df.groupBy("word").agg(
        F.sort_array(F.collect_list("offset")).alias("postings")
    )


def pipeline(raw: DataFrame) -> DataFrame:
    """S1-S8 fused: raw text -> token stream."""
    return tokens(lines(raw))
