"""O2/O3 orchestration: the CLI waterfall with materialized stage
boundaries, and the sink helpers."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from map_reduce_mongodb_spark.__main__ import main
from tests.conftest import SF_DIR


def test_cli_waterfall(spark, tmp_path):
    out = str(tmp_path / "usgs_out")
    summary = main(["--sf-dir", SF_DIR, "--out-dir", out])
    assert summary["features"] == 1000
    assert summary["joined"] == summary["exported"] == 15
    # stage boundaries are real parquet readable by a fresh scan
    assert spark.read.parquet(f"{out}/joined").count() == 15
    doc = json.loads((tmp_path / "usgs_out" /
                      "feature_collection.json").read_text())
    assert len(doc["data"]) == 15
    sites = [f["properties"]["siteCode"] for f in doc["data"]]
    assert sites == sorted(sites)


def test_foreach_batch_sink(spark, tmp_path):
    """S3 stream→sink adapter: per-micro-batch callback writing parquet
    (the reference's streamMapper → createRecords chain)."""
    import shutil
    from map_reduce_mongodb_spark.sinks import foreach_batch
    from map_reduce_mongodb_spark.streaming.windows import read_events_stream

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-0.parquet")
    out = str(tmp_path / "sunk")

    def write_batch(df, epoch_id):
        df.write.mode("append").parquet(out)

    q = foreach_batch(
        read_events_stream(spark, str(src)).filter("event_type = 'click'"),
        write_batch, checkpoint=str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination()
    got = spark.read.parquet(out).count()
    from map_reduce_mongodb_spark.io import table as t
    assert got == t(spark, "events", SF_DIR).filter(
        "event_type = 'click'").count()


def test_shared_parquet_materializes_once(spark):
    """cache.shared_parquet contract: the builder runs exactly once
    per key per process (consumers read the materialization), distinct
    keys build independently, and results round-trip exactly. A
    re-read launches no Spark job (no schema inference over the
    parquet footers) and keeps the built column names and types."""
    from map_reduce_mongodb_spark.cache import clear_shared, shared_parquet
    calls = {"n": 0}

    def frame():
        return spark.range(5).select(F.col("id").alias("v"),
                                     F.array("id").alias("arr"))

    def build():
        calls["n"] += 1
        return frame()

    sc = spark.sparkContext

    def call_in_group(group):
        """shared_parquet(key x) and the ids of the jobs it launched."""
        sc.setJobGroup(group, group)
        try:
            out = shared_parquet(spark, "test_key_sf/x", build)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, sc.statusTracker().getJobIdsForGroup(group)

    clear_shared()
    try:
        a, build_jobs = call_in_group("shared_parquet_build")
        b, reread_jobs = call_in_group("shared_parquet_reread")
        assert calls["n"] == 1
        assert build_jobs, "the build's write should launch a job"
        assert reread_jobs == []
        assert a.dtypes == b.dtypes == frame().dtypes
        assert sorted(r.v for r in a.collect()) == [0, 1, 2, 3, 4]
        assert sorted(r.v for r in b.collect()) == [0, 1, 2, 3, 4]
        shared_parquet(spark, "test_key_sf/y", build)
        assert calls["n"] == 2
    finally:
        clear_shared()
