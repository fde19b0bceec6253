"""Global ranks and prefix sums without a single-task window.

Every global rank and prefix sum in the package goes through
:func:`range_prefix`, the zipWithIndex pattern kept in DataFrame land:

1. **Partition and pin.** ``repartitionByRange(n, *groups, *order)``, sort
   within partitions, tag each row with its partition id ``_pid``, then an
   eager ``localCheckpoint``. RangePartitioner samples its boundaries with an
   RDD-id-seeded RNG, so two lazy consumers of one ranged exchange (the
   per-partition totals and the rows) can see DIFFERENT boundaries when the
   exchange is re-evaluated: measured at 20M rows as ±0.5% duplicate or
   missing ranks, while small inputs pass by luck. The pin gives both one
   materialization, and a lost block fails the job instead of re-sampling.
2. **Offsets.** Per-(groups, ``_pid``) totals, at most ``n`` + |groups|
   rows, get exclusive offsets from a window partitioned by ``groups``.
   RangePartitioner numbers its partitions in sort order, so ``_pid`` order
   is the requested order. The totals raise in-plan when a partition reaches
   2^33 rows, the record-number width ``monotonically_increasing_id``
   documents; a range partition that large means the partitioning broke.
3. **Ranks.** Offset + the record index over the pinned partitions:
   ``monotonically_increasing_id`` is ``(partition << 33) + record``, and
   over sorted partitions the record number is the in-partition rank. The
   offsets join is a broadcast, so no exchange follows the pin.
4. **Prefix sums.** Offset + a running sum partitioned by ``_pid`` (and
   ``groups``), in record order. That window re-shuffles the pinned table
   on ``_pid``: no Spark partitioning of a ranged table satisfies it.

Offsets are long sums in the plan: no collect to the driver and no pandas
pass (an Arrow round trip of the ranked table for integer arithmetic).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# monotonically_increasing_id keeps the record number in its low 33 bits
_ROW_LIMIT = 1 << 33


def range_prefix(
    df: DataFrame,
    order: Sequence[str | Column],
    *,
    rank_col: str | None = None,
    sums: Sequence[str] = (),
    groups: Sequence[str] = (),
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` plus its global rank and inclusive prefix sums in ``order``.

    ``order`` holds column names (ascending) or sort columns such as
    ``F.col("c").desc()``. Within each ``groups`` value, ``rank_col`` gets
    the 0-based position of the row in ``order`` and ``cum_<c>`` the sum of
    ``c`` over the rows up to and including it, for each ``c`` in ``sums``.
    Ties in ``order`` are broken by the pinned partition order, so make
    ``order`` total where ranks must be deterministic. ``num_partitions``
    (default ``defaultParallelism``) is the range partition count.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    keys = [F.col(g) for g in groups] + [
        F.col(o) if isinstance(o, str) else o for o in order
    ]
    pinned = (
        df.repartitionByRange(n, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # record number within the pinned partition, computed directly on its
    # scan: over the sorted partitions it IS the in-partition rank
    rows = pinned.withColumn(
        "_idx",
        F.monotonically_increasing_id()
        - F.shiftleft(F.col("_pid").cast("long"), 33),
    )
    part_keys = [*groups, "_pid"]
    totals = rows.groupBy(*part_keys).agg(
        F.count("*").alias("_n"),
        F.min("_idx").alias("_first"),
        F.max("_idx").alias("_last"),
        *[F.sum(c).alias(f"_t_{c}") for c in sums],
    )
    w_off = (
        Window.partitionBy(*groups)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    too_big = F.raise_error(
        F.lit("range_prefix: a range partition reached 2^33 rows; "
              "raise num_partitions")
    )
    # the guard rides on the join key, so no column pruning can drop it
    offsets = totals.select(
        *groups,
        F.when(F.col("_last") + 1 < _ROW_LIMIT, F.col("_pid"))
        .otherwise(too_big)
        .alias("_pid"),
        "_first",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
        *[
            F.coalesce(F.sum(f"_t_{c}").over(w_off), F.lit(0)).alias(
                f"_off_{c}"
            )
            for c in sums
        ],
    )
    # ungrouped offsets are one row per partition; grouped ones grow with
    # the group count, so the planner picks their join
    out = rows.join(offsets if groups else F.broadcast(offsets), part_keys)
    if rank_col is not None:
        out = out.withColumn(
            rank_col,
            (F.col("_off") + F.col("_idx") - F.col("_first")).cast("long"),
        )
    if sums:
        w_in = (
            Window.partitionBy(*part_keys)
            .orderBy("_idx")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        for c in sums:
            out = out.withColumn(
                f"cum_{c}", F.col(f"_off_{c}") + F.sum(c).over(w_in)
            )
    return out.drop(
        "_pid", "_idx", "_first", "_off", *[f"_off_{c}" for c in sums]
    )
