"""distributed_cumsum: correctness vs a local reference and the
no-single-partition-window plan contract (the reason it exists)."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_mongodb_spark.operators.prefix import (
    distributed_cummax_exclusive,
    distributed_cumsum,
)


def _reference(rows, key=lambda r: (-r[1], r[0])):
    out, acc = {}, 0
    for rid, v in sorted(rows, key=key):
        acc += v
        out[rid] = acc
    return out


def test_cumsum_matches_sequential_reference(spark):
    rows = [(i, (i * 37) % 101) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = distributed_cumsum(
        df, [F.col("v").desc(), F.col("id").asc()], F.col("v"), "cum",
        num_partitions=8).collect()
    want = _reference(rows)
    assert len(got) == 1000
    for r in got:
        assert r.cum == want[r.id], (r.id, r.cum, want[r.id])


def test_cumsum_handles_fewer_rows_than_partitions(spark):
    df = spark.createDataFrame([(1, 10), (2, 5)], "id long, v long")
    got = {r.id: r.cum for r in distributed_cumsum(
        df, [F.col("v").desc(), F.col("id").asc()], F.col("v"), "cum",
        num_partitions=16).collect()}
    assert got == {1: 10, 2: 15}


def test_cumsum_plan_has_no_global_single_partition_window(spark):
    """The data-sized window must be partitioned (by _pid); only the
    O(#partitions) offset table may use a single-partition window.
    Guard: the window OVER THE INPUT RELATION never shows
    SinglePartition in the exchange feeding it."""
    df = spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") % 97).alias("v"))
    out = distributed_cumsum(
        df, [F.col("v").desc(), F.col("id").asc()], F.col("v"), "cum",
        num_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the within-partition running sum is keyed by _pid
    assert "windowspecdefinition(_pid" in plan
    # exactly one single-partition exchange: the tiny offsets branch
    assert plan.count("Exchange SinglePartition") <= 1


def test_cumsum_ranged_frame_is_materialized_once(spark):
    """Both passes must read ONE materialization of the sampled range
    boundaries. ReuseExchange is NOT sufficient — in real query plans
    Catalyst deduplicates the twice-referenced ranged frame into two
    independent exchanges with fresh expression ids, each sampling
    its own boundaries from a load-dependent shuffle-fetch order
    (r6: orders_rfm's executed plan held four rangepartitioning
    exchanges, zero ReusedExchange, and returned different quintiles
    per execution on a busy machine). The operator therefore
    eager-localCheckpoints the ranged frame (r7 — a persist would
    silently re-sample if released before consumption, ADVICE r6):
    the consumer plan must contain ZERO range exchanges (the sampling
    is frozen inside the checkpoint blocks) and both branches must
    scan the checkpoint RDD."""
    df = spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") % 97).alias("v"))
    out = distributed_cumsum(
        df, [F.col("v").desc(), F.col("id").asc()], F.col("v"), "cum",
        num_partitions=8)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("rangepartitioning") == 0, plan
    assert plan.count("ExistingRDD") >= 2, plan


def test_cumsum_result_dies_loudly_after_cache_release(spark):
    """The consume-before-next-build contract, enforced: touching a
    distributed_cumsum result AFTER its checkpoint blocks are released
    must raise (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), never silently
    recompute — a recompute re-samples two independent range exchanges
    whose boundaries can diverge under load, reintroducing the r6
    rank-corruption bug without an error (ADVICE r6 medium)."""
    import pytest

    from map_reduce_mongodb_spark.cache import release_caches

    df = spark.range(0, 1_000).select(
        F.col("id"), (F.col("id") % 13).alias("v"))
    out = distributed_cumsum(
        df, [F.col("v").desc(), F.col("id").asc()], F.col("v"), "cum",
        num_partitions=4)
    assert out.count() == 1_000  # consumable while blocks live
    release_caches()
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        out.collect()


def test_cummax_exclusive_matches_sequential_reference(spark):
    rows = [(i, (i * 53) % 71) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {r.id: r.m for r in distributed_cummax_exclusive(
        df, [F.col("v").asc(), F.col("id").asc()], F.col("v"), "m",
        num_partitions=8).collect()}
    best, want = None, {}
    for rid, v in sorted(rows, key=lambda r: (r[1], r[0])):
        want[rid] = best
        best = v if best is None or v > best else best
    assert got == want
    assert sum(1 for m in got.values() if m is None) == 1  # global first


def _prefix_property_check(spark, values):
    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {r.id: r.cum for r in distributed_cumsum(
        df, [F.col("v").desc(), F.col("id").asc()], F.col("v"), "cum",
        num_partitions=5).collect()}
    acc, want = 0, {}
    for rid, v in sorted(rows, key=lambda r: (-r[1], r[0])):
        acc += v
        want[rid] = acc
    assert got == want


def test_cumsum_property_sweep(spark):
    """Batched hypothesis-style sweep: duplicates, negatives, single
    row, all-equal keys — shapes where range boundaries and tiebreaks
    matter."""
    import random
    rng = random.Random(7)
    cases = [
        [0], [5, 5, 5, 5], [-3, -1, -2, 0, 2, 1],
        [rng.randrange(-10, 10) for _ in range(97)],
        [rng.choice([1, 2]) for _ in range(64)],
        list(range(50)) + list(range(50)),
    ]
    for values in cases:
        _prefix_property_check(spark, values)


def test_reliable_checkpoint_engages_when_dir_configured(spark):
    """Cluster fault-tolerance path: with a checkpoint dir configured
    (production: HDFS/S3), cache.checkpoint_leaf must switch from
    executor-local blocks to reliable DataFrame.checkpoint — same
    frozen-sampling contract (zero range exchanges in the consumer
    plan), files written under the dir, results unchanged. The test
    clears the dir afterwards (through the JVM SparkContext; PySpark
    has no unset) so the shared session's remaining tests keep the
    local path."""
    import os
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="ckdir_")
    spark.sparkContext.setCheckpointDir(d)
    try:
        df = spark.range(0, 5_000).select(
            F.col("id"), (F.col("id") % 97).alias("v"))
        out = distributed_cumsum(
            df, [F.col("v").desc(), F.col("id").asc()], F.col("v"),
            "cum", num_partitions=8)
        rows = out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("rangepartitioning") == 0, plan
        want, acc = {}, 0
        for rid, v in sorted(((r.id, r.v) for r in df.collect()),
                             key=lambda t: (-t[1], t[0])):
            acc += v
            want[rid] = acc
        assert all(r.cum == want[r.id] for r in rows)
        assert any(os.scandir(d)), "no checkpoint files written"
    finally:
        sc = spark.sparkContext
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None
        shutil.rmtree(d, ignore_errors=True)
