"""Incremental view maintenance (IVM) over a replayed CDC stream:
maintain an ADDITIVE aggregate (per-key count / sum / max-batch)
across micro-batches with a read-combine-write state store — the
streaming materialized view whose invariant is `state after replay ==
direct batch aggregate over everything`. The additive merge is the
complement of operators/scd.py's latest-wins SCD2 merge: SCD2 closes
and versions rows; IVM folds partial aggregates, so each epoch's work
is one small combine join regardless of history length.

Scale: per-epoch cost is O(|batch keys| + |state keys|) — one
full-outer combine keyed by the aggregate key, map-side partials on
the batch side, no window, no driver state; the streaming engine
tracks only file-source offsets. The sums are exact integers (e4
units), so replay order cannot perturb the result.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F


def additive_replay_stream(update_batches: list[DataFrame],
                           key: str, work_dir: str) -> DataFrame:
    """Replay ``update_batches`` (each with columns ``key``, ``n``,
    ``s_e4``, ``b``) through Structured Streaming, folding each
    micro-batch's partial aggregates into the state store:
    n += n_batch, s_e4 += s_batch, last_batch = max(b). One file per
    batch with strictly increasing mtimes + ``maxFilesPerTrigger=1``
    pins the replay order (the scd2_replay_stream discipline)."""
    spark = update_batches[0].sparkSession
    src = os.path.join(work_dir, "updates")
    state_path = os.path.join(work_dir, "state")

    schema = update_batches[0].schema
    spark.createDataFrame([], schema).write.mode("overwrite") \
        .parquet(state_path)
    for i, batch in enumerate(update_batches):
        p = os.path.join(src, f"b{i:04d}")
        batch.coalesce(1).write.parquet(p)
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f),
                         (1_000_000 + i, 1_000_000 + i))

    def combine(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        ss = batch_df.sparkSession
        cur = ss.read.parquet(state_path)
        part = (batch_df.groupBy(key)
                .agg(F.sum("n").alias("bn"),
                     F.sum("s_e4").alias("bs"),
                     F.max("b").alias("bb")))
        merged = (cur.join(part, key, "full_outer")
                  .select(key,
                          (F.coalesce("n", F.lit(0))
                           + F.coalesce("bn", F.lit(0))).alias("n"),
                          (F.coalesce("s_e4", F.lit(0))
                           + F.coalesce("bs", F.lit(0))).alias("s_e4"),
                          F.greatest(F.coalesce("b", F.lit(-1)),
                                     F.coalesce("bb", F.lit(-1)))
                          .alias("b"))
                  )
        from map_reduce_mongodb_spark.cache import (
            checkpoint_leaf, release_leaf)
        # lineage cut across the state overwrite; blocks are dead once
        # written — release them (session-lifetime leak otherwise)
        merged = checkpoint_leaf(merged)
        merged.write.mode("overwrite").parquet(state_path)
        release_leaf(merged)

    from map_reduce_mongodb_spark.sinks import foreach_batch
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true")
              .parquet(src))
    q = foreach_batch(stream, combine,
                      checkpoint=os.path.join(work_dir, "ckpt"),
                      query_name="ivm_replay", available_now=True)
    if not q.awaitTermination(300):
        # a timed-out replay means the fold is INCOMPLETE — returning
        # the partial state would silently violate the module's
        # replay≡direct-aggregate invariant (and the still-running
        # query would keep overwriting state_path underneath the
        # returned frame) — fail loudly instead (r9 review)
        q.stop()
        raise TimeoutError(
            "ivm replay did not finish within 300s; partial state "
            f"at {state_path} NOT returned")
    return spark.read.parquet(state_path)
