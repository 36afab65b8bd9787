"""O2/O3 orchestration: the CLI waterfall with materialized stage
boundaries, and the sink helpers."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from map_reduce_mongodb_spark.__main__ import main
from tests.conftest import SF_DIR, jobs_launched


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

    def call():
        """shared_parquet(key x) and the ids of the jobs it launched."""
        return jobs_launched(
            spark, lambda: shared_parquet(spark, "test_key_sf/x", build))

    clear_shared()
    try:
        a, build_jobs = call()
        b, reread_jobs = call()
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


def test_write_stage_reads_back_without_a_job(spark, tmp_path):
    """write_stage's reader is given the written frame's schema: the
    re-read launches no schema-inference job (write_stage launches
    exactly the jobs of the same write alone), and the result keeps
    the frame's column types, nested struct and array included."""
    from map_reduce_mongodb_spark.sinks import write_stage
    df = spark.range(4).select(
        F.col("id").alias("v"),
        F.struct(F.col("id").alias("a"),
                 F.struct((F.col("id") * 2).alias("c")).alias("b"))
        .alias("s"),
        F.array("id", F.lit(7)).alias("arr"))
    path = str(tmp_path / "stage")

    def write():
        df.write.mode("overwrite").parquet(path)

    write()  # warm: the timed calls below differ only by the re-read
    _, write_jobs = jobs_launched(spark, write)
    out, stage_jobs = jobs_launched(spark, lambda: write_stage(df, path))
    assert write_jobs, "the write should launch a job"
    assert len(stage_jobs) == len(write_jobs)
    assert out.dtypes == df.dtypes
    assert sorted(out.collect()) == sorted(df.collect())
