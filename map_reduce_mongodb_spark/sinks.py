"""Sinks — the reference's write surfaces, Spark-first.

| Reference | Where | Here |
|---|---|---|
| S3 stream→sink adapter (`streamMapper`) | harvest.js:53-68 | :func:`foreach_batch` on a streaming DataFrame |
| S4 bulk insert (`createRecords`) | mongodb.js:47-53 | :func:`write_table` (parquet, append/overwrite, optional partitioning) |
| stage materialization (collections between stages) | harvest.js:104-135 | :func:`write_stage` |
| final single-doc export (A4) | mongodb.js:125-143 | :func:`export_feature_collection_json` (explicitly driver-side, documented cliff) |
| MongoDB itself | mongodb.js | :func:`to_mongodb` — the Spark MongoDB connector one-liner (BASELINE.json `spark_approach`); gated: the connector jar isn't in this environment |
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame

from map_reduce_mongodb_spark.cache import checkpoint_leaf, release_leaf
from map_reduce_mongodb_spark.io import read_parquet


def write_table(df: DataFrame, path: str, mode: str = "append",
                partition_by: list[str] | None = None) -> None:
    """S4: bulk write. At scale, pass partition_by (e.g. state, date) so
    downstream scans partition-prune."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_stage(df: DataFrame, path: str) -> DataFrame:
    """Materialize a pipeline stage boundary and return a reader over
    it — the analogue of the reference writing each stage to a
    collection, with the write amortized across all downstream
    consumers. The reader is given the written frame's schema, so
    reading the stage back launches no schema-inference job."""
    df.write.mode("overwrite").parquet(path)
    return read_parquet(df.sparkSession, path, df.schema)


def foreach_batch(stream_df: DataFrame,
                  fn: Callable[[DataFrame, int], None],
                  checkpoint: str, query_name: str = "sink",
                  available_now: bool = False):
    """S3: per-micro-batch callback sink (exactly-once per epoch given
    an idempotent fn). Returns the StreamingQuery handle.
    ``available_now=True`` processes current input then terminates
    (backfills / tests); default runs continuously."""
    w = (
        stream_df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


#: Seconds a replay waits for its stream to drain. A replay still
#: running then has folded only part of its input, so it raises rather
#: than return a partial snapshot (that the running query would keep
#: overwriting underneath the returned frame).
_REPLAY_TIMEOUT_S = 300


def _replay_fold(state: DataFrame, batches: list[DataFrame],
                 fold: Callable[[DataFrame, DataFrame], DataFrame],
                 work_dir: str, query_name: str) -> DataFrame:
    """Replay ``batches`` through Structured Streaming, one micro-batch
    per batch in list order, folding each into the snapshot that
    starts as ``state``; return the final snapshot.

    Each batch is written as one file-source input with strictly
    increasing mtimes; ``maxFilesPerTrigger=1`` then yields exactly one
    micro-batch per batch, oldest first (the file source orders by
    modification time), so the replay is deterministic. Per epoch the
    foreachBatch sink reads the snapshot, computes ``fold(snapshot,
    batch)`` and replaces the snapshot with it — the read-merge-write
    loop a table-format MERGE INTO runs per epoch. ``work_dir`` must be
    a fresh directory (inputs, checkpoint and snapshot live under it).
    Raises ``TimeoutError`` if the stream has not drained within
    :data:`_REPLAY_TIMEOUT_S`."""
    spark = state.sparkSession
    src = os.path.join(work_dir, "updates")
    snapshot = os.path.join(work_dir, "state")
    state.write.mode("overwrite").parquet(snapshot)
    for i, batch in enumerate(batches):
        p = os.path.join(src, f"b{i:04d}")
        batch.coalesce(1).write.parquet(p)
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f),
                         (1_000_000 + i, 1_000_000 + i))
    # schema of the snapshot last written, so no epoch re-infers it
    schema = state.schema

    def epoch(batch_df: DataFrame, _epoch: int) -> None:
        nonlocal schema
        if batch_df.isEmpty():
            return
        cur = read_parquet(batch_df.sparkSession, snapshot, schema)
        # the checkpoint cuts lineage across the snapshot overwrite; its
        # blocks are dead once the write lands — release them or every
        # epoch leaks storage for the session's lifetime
        merged = checkpoint_leaf(fold(cur, batch_df))
        merged.write.mode("overwrite").parquet(snapshot)
        release_leaf(merged)
        schema = merged.schema

    stream = (spark.readStream.schema(batches[0].schema)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true")
              .parquet(src))
    q = foreach_batch(stream, epoch,
                      checkpoint=os.path.join(work_dir, "ckpt"),
                      query_name=query_name, available_now=True)
    if not q.awaitTermination(_REPLAY_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"{query_name} did not finish within {_REPLAY_TIMEOUT_S}s; "
            f"the partial snapshot at {snapshot} is not returned")
    return read_parquet(spark, snapshot, schema)


def export_feature_collection_json(fc_df: DataFrame, path: str) -> None:
    """A4 final artifact: ONE GeoJSON FeatureCollection-shaped document.
    This is inherently a driver-side collect of one row (the reference
    built the same doc in driver memory, mongodb.js:125-137); callers
    must only use it on bounded exports — the distributed form is the
    per-feature DataFrame."""
    rows = fc_df.toJSON().collect()
    doc = json.loads(rows[0]) if rows else {"data": []}
    with open(path, "w") as f:
        json.dump(doc, f, sort_keys=True)


def to_mongodb(df: DataFrame, uri: str, database: str,
               collection: str, mode: str = "append") -> None:
    """Reference-parity MongoDB sink via the official Spark MongoDB
    connector. The connector jar is not present in this environment, so
    this raises a clear error unless it is installed
    (--packages org.mongodb.spark:mongo-spark-connector_2.13)."""
    try:
        (df.write.format("mongodb").mode(mode)
         .option("connection.uri", uri)
         .option("database", database)
         .option("collection", collection)
         .save())
    except Exception as exc:  # pragma: no cover - no connector here
        raise RuntimeError(
            "MongoDB connector not available in this environment; install "
            "org.mongodb.spark:mongo-spark-connector to use this sink"
        ) from exc
