"""Distributed exclusive prefix sum over a global order — without the
``Exchange SinglePartition`` a bare ``Window.orderBy`` plans.

Shape (the same two-job pattern as layout/upsert._ranged_batch_assignment):
1. ``repartitionByRange(order_col)`` — partitions are order-contiguous, so
   a global prefix sum decomposes into per-partition offsets + an
   in-partition running sum.
2. ``materialize_once`` pins the partitioning: the offsets job and the
   consuming job must see identical partitions (range boundaries come from
   sampling, so re-evaluation could shift rows between partitions).
3. Per-partition totals -> driver (one row per partition, not data) ->
   exclusive offsets as a literal lookup array.
4. In-partition exclusive running sum via a window PARTITIONED by the
   physical partition id — matches the existing distribution, no exchange.

At 100 TB this is the textbook scan-parallel prefix sum: the only global
coordination is the partition-count-sized offsets array.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_sfc_spark.sources.loader import compute_width, materialize_once


def exclusive_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "before",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = sum of ``value_col`` over all rows strictly before
    this one in ``order_col`` order (ties broken by the same column — pass
    a unique key).  Fully distributed: no single-partition exchange."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = compute_width(spark)
    b = materialize_once(
        df.repartitionByRange(num_partitions, F.col(order_col))
        .withColumn("__pid", F.spark_partition_id())
    )
    totals = {
        r["__pid"]: r["t"]
        for r in b.groupBy("__pid").agg(F.sum(value_col).alias("t")).collect()
    }
    offsets = []
    acc = 0
    for pid in range(max(totals, default=-1) + 1):
        offsets.append(acc)
        acc += totals.get(pid, 0) or 0
    off = F.element_at(
        F.array(*[F.lit(int(o)).cast("long") for o in offsets]),
        F.col("__pid") + 1,
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum(value_col).over(w), F.lit(0)).cast("long")
    return b.withColumn(out_col, (off + within).cast("long")).drop("__pid")
