"""Distributed running totals over file order (scale-safe prefix sum).

The reference annotates each input line with a running byte-offset
cursor computed in a single driver-side loop (master.py:38-46).  The
naive Spark translation is a window over one global ordering — which
funnels 100 TB through ONE partition.  Instead we use the classic
two-pass prefix sum:

1. tag rows with ``spark_partition_id()`` and a within-partition
   ordinal (``monotonically_increasing_id()`` is monotone within a
   partition);
2. aggregate per-partition totals (one tiny row per partition) to the
   driver, compute exclusive cumulative bases, broadcast them back;
3. within each partition, a window PARTITIONED BY partition id gives
   the local running sum — fully parallel across partitions.

With one input partition (a small file is one split) there is no
earlier partition, so every base is zero: the partition count is
probed with ``df.rdd.getNumPartitions()``, which plans the scan but
launches no job, and pass 2 runs alone.

Correctness requires that partition order equals row order, which
holds for ``spark.read.text`` over a single file (splits are laid out
in byte order).  For multi-file inputs, sort the file list first.

CONTRACT (why this is only for deterministic scans): the totals pass
and the output pass execute the input lineage TWICE, so the lineage
must produce the identical partitioning and row order both times.  A
file scan does; a ``repartitionByRange`` does NOT (its sampled range
boundaries are not guaranteed identical across executions — observed
divergence at 50k rows).  For running totals over a key column's
order, use ``keyed_prefix_sum``, which depends only on key values and
is deterministic at any partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__psum_pid"
_MID = "__psum_mid"


def keyed_prefix_sum(
    df: DataFrame,
    key: str,
    contrib: Column,
    out: str = "start",
    bucket_width: int = 1024,
) -> DataFrame:
    """Exclusive running total over the ORDER OF A UNIQUE KEY COLUMN —
    the scale-safe cumsum for keyed data (``with_prefix_sums`` is for
    encounter order over deterministic scans; see its caveat).

    Three-level plan, deterministic at any partitioning because every
    step depends only on key VALUES:

    1. bucket rows by ``floor(key / bucket_width)`` and aggregate
       per-bucket contribution totals (map-side combinable);
    2. a window over the BUCKET table (tiny: <= n_rows/bucket_width
       rows — pick bucket_width so this fits one task even at 100 TB)
       produces each bucket's exclusive base;
    3. broadcast the bases back and add a per-bucket window ordered by
       the key for the within-bucket running total — partition-
       parallel across buckets.
    """
    b = df.withColumn("__kps_bucket", F.floor(F.col(key) / bucket_width))
    b = b.withColumn("__kps_c", contrib.cast("long"))
    btot = b.groupBy("__kps_bucket").agg(F.sum("__kps_c").alias("__kps_bn"))
    wb = Window.orderBy("__kps_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bbase = btot.select(
        "__kps_bucket",
        F.coalesce(F.sum("__kps_bn").over(wb), F.lit(0)).alias("__kps_base"),
    )
    wl = (
        Window.partitionBy("__kps_bucket")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        b.join(F.broadcast(bbase), "__kps_bucket")
        .withColumn(
            out,
            (
                F.col("__kps_base")
                + F.coalesce(F.sum("__kps_c").over(wl), F.lit(0))
            ).cast("long"),
        )
        .drop("__kps_bucket", "__kps_c", "__kps_base")
    )


def with_order_columns(df: DataFrame) -> DataFrame:
    """Attach (partition-id, within-partition-monotone-id) order keys."""
    return df.withColumn(_PID, F.spark_partition_id()).withColumn(
        _MID, F.monotonically_increasing_id()
    )


def with_prefix_sums(
    df: DataFrame, sums: dict[str, Column], *, inclusive: bool = False
) -> DataFrame:
    """Add running-total columns over the DataFrame's encounter order.

    ``sums`` maps output-column-name -> contribution expression.  For
    every output column, row i receives the sum of contributions of
    rows 0..i-1 (exclusive; 0..i if ``inclusive``).  Also adds a
    contiguous 0-based ``row_ordinal`` column (stable global row id).
    """
    tagged = with_order_columns(df)
    for name, expr in sums.items():
        tagged = tagged.withColumn(f"__contrib_{name}", expr.cast("long"))

    contrib_cols = [f"__contrib_{name}" for name in sums]
    # Pass 1: per-partition totals — O(#partitions) rows to the driver.
    # With one partition (or none) nothing precedes it, every base is
    # zero and pass 1 is skipped; the probe plans the scan, no job.
    totals = []
    if df.rdd.getNumPartitions() > 1:
        totals = (
            tagged.groupBy(_PID)
            .agg(
                F.count(F.lit(1)).alias("__cnt"),
                *[F.sum(c).alias(c) for c in contrib_cols],
            )
            .collect()
        )
    totals.sort(key=lambda r: r[_PID])
    bases: dict[int, tuple[int, ...]] = {}
    running = [0] * (len(contrib_cols) + 1)  # [row-count base, *sum bases]
    for row in totals:
        bases[row[_PID]] = tuple(running)
        running[0] += row["__cnt"]
        for i, c in enumerate(contrib_cols):
            running[i + 1] += row[c] or 0

    base_map_items = []
    for pid, vals in bases.items():
        base_map_items.append(F.lit(pid))
        base_map_items.append(F.array(*[F.lit(v) for v in vals]))
    if base_map_items:
        bases_col = F.create_map(*base_map_items)[F.col(_PID)]
    else:  # one partition, or no rows: all bases are zero
        bases_col = F.array(*[F.lit(0)] * (len(contrib_cols) + 1))

    # Pass 2: within-partition running sums — parallel across partitions.
    w = Window.partitionBy(_PID).orderBy(_MID)
    frame = w.rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    out = tagged.withColumn("__bases", bases_col)
    out = out.withColumn(
        "row_ordinal",
        (
            F.col("__bases")[0]
            + F.row_number().over(w)
            - F.lit(1)
        ).cast("long"),
    )
    for i, name in enumerate(sums):
        local = F.coalesce(F.sum(f"__contrib_{name}").over(frame), F.lit(0))
        out = out.withColumn(name, (F.col("__bases")[i + 1] + local).cast("long"))
    return out.drop(_PID, _MID, "__bases", *contrib_cols)
