"""Distributed prefix sum (global running total) without a
single-partition window.

The naive Spark expression of ``SUM(x) OVER (ORDER BY k)`` — a Window
with ``orderBy`` and no ``partitionBy`` — moves the ENTIRE dataset into
one task (Spark plans it as a single-partition window; the physical plan
shows ``Window ... SinglePartition``). Fine at test scale, fatal at
100 TB: one executor core sorts and scans everything.

This module implements the textbook two-pass distributed scan instead
(the same decomposition every PRAM / MPI prefix-sum uses, and what
Trino's distributed window frames do under the hood):

1. **Range-partition** the data by the global sort key
   (``repartitionByRange`` — samples the key distribution, so
   partitions are balanced even on skewed keys), then compute a
   *within-partition* running sum with an ordinary partitioned window
   (parallel, no single-partition stage).
2. Aggregate **one row per partition** (its total), prefix-sum that
   tiny table (``#partitions`` rows — a few thousand even on a
   1000-executor cluster, so the single-partition window over it is
   free), and broadcast-join each partition's *offset* (sum of all
   earlier partitions) back.

``global running sum = within-partition running sum + partition offset``

Determinism: the caller must supply a TOTAL order (include a unique
tiebreak column) — with a total order, any range partitioning yields
the same global prefix sums regardless of where the cuts land.

Consistency of ``_pid`` between the two passes — the r6 lesson: the
within-partition window and the per-partition totals both reference
the ranged frame, but Catalyst DEDUPLICATES the twice-referenced
subtree into two independent range exchanges (fresh expression ids;
ReuseExchange does NOT fire — observed: four rangepartitioning
exchanges, zero ReusedExchange in orders_rfm's executed plan), and
``repartitionByRange`` SAMPLES its boundaries from whatever row order
the shuffle fetch happens to deliver. Unloaded, the two samplings
coincide and everything looks fine — including five driver rounds of
green checks. Under concurrent load they diverge, the two branches
disagree on ``_pid``, and ranks come back corrupted in
partition-sized chunks (caught by the r6 sf0.1 parity sweep running
against a busy machine). The fix is structural: the ranged frame is
MATERIALIZED once and both branches read that one materialization —
boundaries are sampled exactly once, under any load.

Why ``checkpoint_leaf`` and not ``tracked_persist`` (the r6 shape):
a persist is advisory — ``release_caches()`` (which every registered
query builder fires on entry) or memory-pressure eviction silently
REPLANS the frame on next touch, re-opening the exact two-exchange
divergence this operator exists to close, with no error (ADVICE r6).
A localCheckpoint severs lineage instead: the sampled partitioning is
frozen into RDD blocks, and a consumer touching the result after the
blocks are released fails LOUDLY — the standard consume-before-next-
build contract for checkpoint-backed results (cache.py module
docstring). At cluster scale the blocks are executor-local and cost
what the equivalent global sort's shuffle files would; swap for a
reliable ``checkpoint()`` dir where executor loss matters.

Scale notes: two shuffles (the range exchange; the per-partition totals
aggregate is map-side) — the same cost as any global sort. The offset
table is O(#partitions), driver-free, broadcast. Integer-typed values
stay exact in any association order; for doubles the usual rounding
defense applies downstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def distributed_cumsum(df: DataFrame, order_by: list[Column],
                       value: Column, out: str,
                       num_partitions: int | None = None) -> DataFrame:
    """Append column ``out`` = running sum of ``value`` over the global
    total order ``order_by`` (list of Column, may use ``.desc()``),
    computed with the two-pass range-partitioned scan described in the
    module docstring. Returns ``df``'s columns plus ``out``.
    """
    from map_reduce_mongodb_spark.cache import checkpoint_leaf

    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    # Checkpointed: both consumers below MUST see one materialization
    # of the sampled range boundaries (see module docstring — a
    # recomputable persist can silently re-sample after release and
    # corrupt the ranks; a checkpoint fails loudly instead).
    ranged = checkpoint_leaf(
        df.repartitionByRange(num_partitions, *order_by)
          .withColumn("_pid", F.spark_partition_id())
          .withColumn("_v", value))
    w_local = (Window.partitionBy("_pid").orderBy(*order_by)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = ranged.withColumn("_local", F.sum("_v").over(w_local))

    totals = ranged.groupBy("_pid").agg(F.sum("_v").alias("_tot"))
    # #partitions rows: the single-partition window here is over a
    # table with one row per partition, not per record.
    w_off = (Window.orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        "_pid",
        F.coalesce(F.sum("_tot").over(w_off),
                   F.lit(0).cast("bigint")).alias("_off"))

    return (local.join(F.broadcast(offsets), "_pid")
            .withColumn(out, F.col("_local") + F.col("_off"))
            .drop("_pid", "_v", "_local", "_off"))


def distributed_cummax_exclusive(df: DataFrame, order_by: list[Column],
                                 value: Column, out: str,
                                 num_partitions: int | None = None
                                 ) -> DataFrame:
    """Append column ``out`` = max of ``value`` over all STRICTLY
    EARLIER rows in the global total order ``order_by`` (NULL for the
    global first row) — the exclusive prefix maximum, e.g. the
    dominance test of skyline/Pareto-front queries.

    Same two-pass decomposition as :func:`distributed_cumsum` (max is
    associative, so the scheme carries over unchanged): range-partition
    on the order key, exclusive within-partition running max
    (``rowsBetween(unboundedPreceding, -1)``), then combine with the
    max over all EARLIER partitions' totals via ``greatest`` (which
    skips NULLs, handling both the partition-first and global-first
    rows).
    """
    from map_reduce_mongodb_spark.cache import checkpoint_leaf

    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    # Checkpointed for the same _pid-consistency reason as
    # distributed_cumsum (module docstring).
    ranged = checkpoint_leaf(
        df.repartitionByRange(num_partitions, *order_by)
          .withColumn("_pid", F.spark_partition_id())
          .withColumn("_v", value))
    w_local = (Window.partitionBy("_pid").orderBy(*order_by)
               .rowsBetween(Window.unboundedPreceding, -1))
    local = ranged.withColumn("_local", F.max("_v").over(w_local))

    totals = ranged.groupBy("_pid").agg(F.max("_v").alias("_tot"))
    w_off = (Window.orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        "_pid", F.max("_tot").over(w_off).alias("_off"))

    return (local.join(F.broadcast(offsets), "_pid")
            .withColumn(out, F.greatest("_local", "_off"))
            .drop("_pid", "_v", "_local", "_off"))
