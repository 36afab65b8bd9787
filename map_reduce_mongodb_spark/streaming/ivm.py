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

from pyspark.sql import DataFrame, functions as F

from map_reduce_mongodb_spark.sinks import _replay_fold


def additive_replay_stream(update_batches: list[DataFrame],
                           key: str, work_dir: str) -> DataFrame:
    """Replay ``update_batches`` (each with columns ``key``, ``n``,
    ``s_e4``, ``b``) through Structured Streaming, one micro-batch per
    batch in list order (:func:`sinks._replay_fold`), folding each
    micro-batch's partial aggregates into the state store:
    n += n_batch, s_e4 += s_batch, last_batch = max(b). Raises
    ``TimeoutError`` rather than return a partially folded state."""
    def combine(cur: DataFrame, batch_df: DataFrame) -> DataFrame:
        part = (batch_df.groupBy(key)
                .agg(F.sum("n").alias("bn"),
                     F.sum("s_e4").alias("bs"),
                     F.max("b").alias("bb")))
        return (cur.join(part, key, "full_outer")
                .select(key,
                        (F.coalesce("n", F.lit(0))
                         + F.coalesce("bn", F.lit(0))).alias("n"),
                        (F.coalesce("s_e4", F.lit(0))
                         + F.coalesce("bs", F.lit(0))).alias("s_e4"),
                        F.greatest(F.coalesce("b", F.lit(-1)),
                                   F.coalesce("bb", F.lit(-1)))
                        .alias("b")))

    first = update_batches[0]
    empty = first.sparkSession.createDataFrame([], first.schema)
    return _replay_fold(empty, update_batches, combine, work_dir,
                        "ivm_replay")
