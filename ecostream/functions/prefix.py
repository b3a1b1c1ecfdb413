"""Distributed prefix (running) sums without a single-partition window.

``Window.orderBy(...)`` with no partition spec moves the ENTIRE dataset
to one task — fine at test scale, fatal at 100 TB.  The scalable
formulation is the classic two-phase prefix sum:

1. ``repartitionByRange`` on the order key — ranges ascend with
   partition id, so partition p holds exactly the rows ordered before
   partition p+1's.
2. One tiny aggregation computes each partition's value total; the
   driver turns the per-partition totals into EXCLUSIVE prefix offsets
   (model-sized: one number per partition, the same collect-a-model
   shape as k-means centroids).
3. Each partition computes its LOCAL running sum (window partitioned by
   the partition id — no cross-partition shuffle) and adds its offset.

The result equals the global-window running sum row for row, but every
stage is partition-parallel; the one materialization pins the range
boundaries so phases 2 and 3 see identical partitioning.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, DoubleType, FloatType

_PID = "__prefix_pid"
_OFF = "__prefix_offset"


def with_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "cum_before",
    partition_cols: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = sum of ``value_col`` over all rows strictly
    before the current row in ``order_cols`` order (exclusive prefix;
    within each ``partition_cols`` group when given).

    ``order_cols`` must be a total order within each group (ties would
    make "before" ambiguous).  Equivalent to
    ``sum(value).over(Window.partitionBy(*partition_cols)
    .orderBy(*order_cols).rowsBetween(unboundedPreceding, -1))`` with a
    typed-zero coalesce (null values contribute nothing; rows before
    any non-null value get 0) — without the single-partition exchange.
    """
    partition_cols = partition_cols or []
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n, *partition_cols, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin range boundaries across jobs
    )
    # Phase 2: per-(group, partition) totals -> exclusive prefix offsets.
    totals_df = ranged.groupBy(*partition_cols, _PID).agg(
        F.sum(value_col).alias("_t")
    )
    sum_type = totals_df.schema["_t"].dataType  # long/double/decimal...
    totals = totals_df.collect()
    by_group: dict[tuple, list] = {}
    for r in totals:
        key = tuple(r[c] for c in partition_cols)
        by_group.setdefault(key, []).append((r[_PID], r["_t"]))
    # The zero must come from the aggregate's Spark type, not a sampled
    # row: collect() order is arbitrary and a range partition whose
    # value_col is all null yields a None total (type(None)(0) raises).
    if isinstance(sum_type, DecimalType):
        zero: object = Decimal(0)
    elif isinstance(sum_type, (DoubleType, FloatType)):
        zero = 0.0
    else:
        zero = 0
    offset_rows = []
    for key, parts in by_group.items():
        running = zero
        for pid, t in sorted(parts):  # range partitions ascend with pid
            offset_rows.append((*key, pid, running))
            if t is not None:  # a partition whose values are all null
                running += t
    offsets = spark.createDataFrame(
        offset_rows,
        ranged.select(*partition_cols, _PID).schema.add(_OFF, sum_type),
    )
    # Phase 3: local running sum + broadcast offset join.  The frame is
    # genuinely exclusive (ends at -1) rather than the inclusive-minus-
    # value shortcut: subtracting a NULL value would nullify the prefix
    # for null-valued rows, where the right answer is "sum of the
    # non-null values before me".
    w = (
        Window.partitionBy(*partition_cols, _PID)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_cum: Column = F.coalesce(
        F.sum(value_col).over(w), F.lit(0).cast(sum_type)
    )
    return (
        ranged.join(F.broadcast(offsets), [*partition_cols, _PID])
        .withColumn(out_col, local_cum + F.col(_OFF))
        .drop(_PID, _OFF)
    )
