"""Custom stateful streaming operator via ``applyInPandasWithState`` —
the escape hatch for semantics Spark's built-in windowed aggregations
can't express (task spec: "applyInPandasWithState for custom stateful
operators").

Example operator: per-user RUNNING PROFILE — total events, total value,
and the first-seen/last-seen event times, maintained incrementally
across micro-batches. State is a single row per user (bounded by
|users|, not |events|); emitted in "update" mode whenever the user's
profile changes.

The same logic doubles as a batch function (one "micro-batch" of
everything) — tests assert stream≡batch equivalence.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
)

# NTZ throughout, matching the naive event-time column the scans
# produce: TimestampType (LTZ) here would make the Arrow state/output
# round-trip render first/last_ts in the session timezone (caught by a
# TZ=America/New_York full-registry sweep, r7).
PROFILE_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
    StructField("first_ts", TimestampNTZType()),
    StructField("last_ts", TimestampNTZType()),
])

_STATE_SCHEMA = StructType([
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
    StructField("first_ts", TimestampNTZType()),
    StructField("last_ts", TimestampNTZType()),
])


def user_profiles_stateful(events: DataFrame) -> DataFrame:
    """Apply the running-profile operator. Works on a streaming OR batch
    DataFrame with columns (user_id, ts, value).

    The state-update function is a CLOSURE (not a module-level def) so
    cloudpickle ships it by value — Python workers need no importable
    copy of this package (a host that loaded it from a bare
    ``sys.path`` entry, as ``__spark_entry__.py`` does, still works).

    An LTZ ``ts`` input (a watermark-capable stream) is normalized to
    NTZ UTC fields HERE, not left to callers: Arrow hands pandas the
    session-LOCAL rendering of an LTZ value, which would flow
    unchanged into the NTZ output fields and shift first/last_ts by
    the session-timezone offset on a non-UTC box."""
    from pyspark.sql.types import TimestampType

    if isinstance(events.schema["ts"].dataType, TimestampType):
        from map_reduce_mongodb_spark.streaming.windows import ntz_utc
        from pyspark.sql import functions as F
        events = events.withColumn("ts", ntz_utc(F.col("ts")))

    def update_profile(key, pdfs: Iterator[pd.DataFrame],
                       state: GroupState) -> Iterator[pd.DataFrame]:
        import pandas as _pd
        (user_id,) = key
        if state.exists:
            n, total, first_ts, last_ts = state.get
        else:
            n, total, first_ts, last_ts = 0, 0.0, None, None
        # Arrow hands pandas-2 batches with datetime64[us] columns; the
        # state/serializer round-trip assumes nanosecond Timestamps, so a
        # us-unit Timestamp silently re-reads its integer value as ns
        # (2024 epoch-us -> 1970-01-20). Pin everything to ns explicitly.
        # Range assumption: ns-representable timestamps only (1677-2262)
        # — .astype/as_unit('ns') raises OutOfBoundsDatetime beyond that;
        # fine for event data, by design.
        if first_ts is not None:
            first_ts = _pd.Timestamp(first_ts).as_unit("ns")
        if last_ts is not None:
            last_ts = _pd.Timestamp(last_ts).as_unit("ns")
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            ts = pdf["ts"].astype("datetime64[ns]")
            lo, hi = ts.min(), ts.max()
            first_ts = lo if first_ts is None else min(first_ts, lo)
            last_ts = hi if last_ts is None else max(last_ts, hi)
        state.update((n, total, first_ts, last_ts))
        out = _pd.DataFrame({
            "user_id": [user_id], "n_events": [n],
            "total_value": [round(total, 2)],
            "first_ts": [first_ts], "last_ts": [last_ts],
        })
        out["first_ts"] = out["first_ts"].astype("datetime64[ns]")
        out["last_ts"] = out["last_ts"].astype("datetime64[ns]")
        yield out

    grouped = events.select("user_id", "ts", "value").groupBy("user_id")
    if events.isStreaming:
        return grouped.applyInPandasWithState(
            update_profile, PROFILE_SCHEMA, _STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    # Batch twin: same semantics in one pass (reference model for tests)
    from pyspark.sql import functions as F
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def user_profiles_tws(events: DataFrame) -> DataFrame:
    """The SAME running-profile operator on Spark 4's
    ``transformWithStateInPandas`` (StatefulProcessor + typed
    ValueState on the RocksDB state store) — the successor API to
    applyInPandasWithState: state is named and schema-typed per
    handle (value/list/map states, timers, TTL) instead of one
    implicit tuple, and the store provider must be RocksDB (set
    ``spark.sql.streaming.stateStore.providerClass`` on the session).
    Semantics here are identical to :func:`user_profiles_stateful`,
    so stream-vs-batch equivalence pins BOTH APIs against the same
    oracle. The processor class is defined in-function so cloudpickle
    ships it by value (bare-sys.path drivers).

    The transformWithState driver worker needs ``google.protobuf``
    (its state-server protocol); the test runs it in a subprocess
    with the sandbox's pure-Python protobuf runtime on PYTHONPATH
    (NOTES_r9 — the former skip-gate is closed)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor)
    from pyspark.sql.types import TimestampType

    # Same LTZ→NTZ-UTC normalization as user_profiles_stateful (the
    # r7 bug class): without it, Arrow hands the processor the
    # session-LOCAL rendering of an LTZ ts and it flows unchanged
    # into the NTZ first/last_ts outputs — shifted by the session
    # offset on a non-UTC box. This twin silently lacked the guard
    # (r9 review); the semantics claim above requires it.
    if isinstance(events.schema["ts"].dataType, TimestampType):
        from pyspark.sql import functions as F

        from map_reduce_mongodb_spark.streaming.windows import ntz_utc
        events = events.withColumn("ts", ntz_utc(F.col("ts")))

    class ProfileProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState("profile", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues
                            ) -> Iterator[pd.DataFrame]:
            import pandas as _pd
            (user_id,) = key
            prev = self._state.get()
            if prev is not None:
                n, total, first_ts, last_ts = prev
                first_ts = _pd.Timestamp(first_ts).as_unit("ns")
                last_ts = _pd.Timestamp(last_ts).as_unit("ns")
            else:
                n, total, first_ts, last_ts = 0, 0.0, None, None
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                ts = pdf["ts"].astype("datetime64[ns]")
                lo, hi = ts.min(), ts.max()
                first_ts = lo if first_ts is None else min(first_ts, lo)
                last_ts = hi if last_ts is None else max(last_ts, hi)
            self._state.update((n, total, first_ts, last_ts))
            out = _pd.DataFrame({
                "user_id": [user_id], "n_events": [n],
                "total_value": [round(total, 2)],
                "first_ts": [first_ts], "last_ts": [last_ts],
            })
            out["first_ts"] = out["first_ts"].astype("datetime64[ns]")
            out["last_ts"] = out["last_ts"].astype("datetime64[ns]")
            yield out

        def close(self) -> None:
            pass

    return (events.select("user_id", "ts", "value")
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=ProfileProcessor(),
                outputStructType=PROFILE_SCHEMA,
                outputMode="Update",
                timeMode="None"))
