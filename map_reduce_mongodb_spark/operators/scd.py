"""Slowly-changing-dimension type-2 merge (versioned upsert).

The warehouse-maintenance operator behind every "dimension table with
history": applying a batch of attribute updates must CLOSE the current
version of each changed key (stamp ``valid_to`` = the batch's effective
time) and APPEND a new open version, while unchanged keys pass through
untouched. Table formats spell this as ``MERGE INTO`` (Delta/Iceberg —
the production backend once a jar is available); the engine-level
semantics are a keyed outer join + union, which is what this
implements on plain DataFrames.

Scale shape: one equi-join of the dimension against the update batch
(dimensions are the SMALL side of a warehouse — broadcast the batch
when it fits, AQE otherwise) + a union of three branches projected
from that single join — no shuffle beyond the join key, no window, no
driver state. History grows append-only, exactly like the table-format
implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from map_reduce_mongodb_spark.sinks import _replay_fold


def scd2_apply(dim: DataFrame, updates: DataFrame, key: str,
               attrs: list[str], effective: str = "effective_ts"
               ) -> DataFrame:
    """Apply one SCD2 update batch to a versioned dimension.

    ``dim``: current dimension with ``key``, ``attrs``, ``valid_from``
    (timestamp), ``valid_to`` (timestamp, NULL = open), ``version``
    (int). Only OPEN rows (``valid_to IS NULL``) are eligible to
    close; closed history passes through verbatim.

    ``updates``: one row per changed key — ``key``, new values for
    ``attrs``, and ``effective`` (timestamp the change takes effect).
    A batch with duplicate keys is COMPACTED defensively before the
    join: the row with the greatest ``effective`` wins (ties broken
    deterministically by attribute values via a struct max — never
    first-row-wins, which would be partition-order-dependent). The
    compact is load-bearing, not cosmetic: the single-scan shape
    left-joins the WHOLE dimension against the batch, so a duplicate
    key would fan out every row of that key — closed history
    included — and emit phantom versions (the old four-branch union
    left closed rows immune; this shape doesn't). The groupBy runs on
    the small (broadcast) side, so it costs one tiny shuffle of the
    batch, not of the dimension.

    Returns the merged dimension: closed history + still-open
    unchanged rows + closed-out previous versions of updated keys +
    the new open versions (version + 1).

    Plan shape: ONE dimension scan, ONE broadcast join, ONE explode.
    The previous four-branch union (closed history ∪ untouched ∪
    closed-out ∪ new versions) re-executed the scan+join subtree per
    branch — the containment_pairs fwd∪rev lesson: a union is not a
    multi-output operator. Each joined row conditionally emits its
    one (pass-through) or two (close-out + successor) output rows
    from a single evaluation instead.
    """
    compact = (updates
               .groupBy(key)
               .agg(F.max(F.struct(
                   F.col(effective).alias("_eff0"),
                   *[F.col(a).alias(a) for a in attrs])).alias("_u")))
    upd = F.broadcast(compact.select(
        F.col(key),
        *[F.col(f"_u.{a}").alias(f"_new_{a}") for a in attrs],
        F.col("_u._eff0").alias("_eff")))
    joined = dim.join(upd, key, "left")

    def _struct(**overrides) -> F.Column:
        return F.struct(*[
            overrides.get(c, F.col(c)).alias(c) for c in dim.columns])

    passthrough = _struct()
    closed_out = _struct(valid_to=F.col("_eff"))
    new_version = _struct(
        **{a: F.col(f"_new_{a}") for a in attrs},
        valid_from=F.col("_eff"),
        # follow the dimension's valid_to type so NTZ dims stay NTZ
        # (a hard LTZ cast would re-introduce session-zone
        # sensitivity — the inflight_sweepline class from the r8
        # Sao_Paulo TZ sweep)
        valid_to=F.lit(None).cast(dim.schema["valid_to"].dataType),
        version=F.col("version") + 1)
    # closed history and unmatched open rows pass through verbatim;
    # matched OPEN rows (and only those) close out and spawn v+1
    emits = F.when(
        F.col("valid_to").isNotNull() | F.col("_eff").isNull(),
        F.array(passthrough)
    ).otherwise(F.array(closed_out, new_version))
    return (joined.select(F.explode(emits).alias("_r"))
            .select("_r.*"))


def scd2_replay_stream(dim: DataFrame, update_batches: list[DataFrame],
                       key: str, attrs: list[str],
                       work_dir: str) -> DataFrame:
    """Replay a sequence of CDC update batches through Structured
    Streaming, applying :func:`scd2_apply` once per micro-batch, and
    return the final versioned dimension.

    Each ``update_batches[i]`` (duplicate keys within one batch are
    compacted by :func:`scd2_apply` — greatest ``effective`` wins,
    deterministic tie-break) becomes exactly one micro-batch, oldest
    first (:func:`sinks._replay_fold`). The foreachBatch sink reads the
    current dimension snapshot, applies the SCD2 merge, and replaces
    the snapshot — the same read-merge-write loop a table-format MERGE
    INTO runs per epoch, with the snapshot store standing in for the
    Delta/Iceberg commit (jar-gated). Raises ``TimeoutError`` rather
    than return a half-folded dimension.

    Scale: per-epoch work is one broadcast join of the dimension
    against the micro-batch plus a three-branch union — no window, no
    driver state; the streaming engine only tracks file-source
    offsets. ``work_dir`` must be a fresh directory (input files,
    checkpoint, and dimension snapshots live under it)."""
    return _replay_fold(
        dim, update_batches,
        lambda cur, batch_df: scd2_apply(cur, batch_df, key, attrs),
        work_dir, "scd2_replay")
