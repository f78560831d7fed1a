"""Distributed exclusive prefix scan.

The CUDA reference leans on thrust scans as a core primitive — CSR row
offsets via `thrust::exclusive_scan` (graph.cuh:87) and the
aggregation phase's compaction offsets (phaseAggregation.cuh:39,166).
Spark's planner has no scan operator, but the classic two-level GPU
scan decomposition maps exactly onto a cluster: local scan per
partition, scan-of-partition-totals on the driver (O(partitions)
rows), broadcast the offsets back. Same machinery as
sources/edges.py::assign_contiguous_ids, generalized from ranks to
arbitrary additive values — and the base of sequence packing
(operators/curation.py::sequence_pack).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cum_before",
    num_partitions: int | None = None,
) -> DataFrame:
    """All input columns + ``out_col`` = exclusive prefix sum of
    ``value_col`` in ``order_col`` order (first row gets 0).

    Scale: range-partition by the order key, ONE local window per
    partition (never a global single-partition window), collect only
    the per-partition totals (O(partitions) scalars), add the
    exclusive offsets back via a broadcast join — the distributed
    two-level scan, thrust::exclusive_scan's cluster-shaped twin.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    ranged = df.repartitionByRange(num_partitions, order_col).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn(
        "_local_excl", F.coalesce(F.sum(value_col).over(w), F.lit(0)).cast("long")
    )
    # checkpoint so the totals we collect match the partitioning the join
    # sees: the totals job materializes it, the join reads the same blocks,
    # and nothing is left in the session's cache
    local = local.localCheckpoint(eager=False)
    totals = {
        r["_pid"]: r["tot"]
        for r in local.groupBy("_pid").agg(F.sum(value_col).alias("tot")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += int(totals[pid] or 0)
    off_df = spark.createDataFrame(offsets, schema="_pid int, _off long")
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col("_local_excl") + F.col("_off")).cast("long"))
        .drop("_pid", "_local_excl", "_off")
    )
