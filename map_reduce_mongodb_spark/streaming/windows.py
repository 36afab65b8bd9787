"""Structured Streaming analogues of the engine's windowed aggregations.

The reference ingests as a one-shot batch (its Node streams are an
implementation detail — SURVEY.md §1.1); the north-star asks for real
streaming semantics. Design rule: every aggregation here is written
against a plain DataFrame, so the SAME function runs in batch (unit
tests, backfills) and under ``readStream`` (production) — Spark's
unified batch/stream contract.

Watermarks: callers of the streaming path get `with_watermark` applied
so state for late data is bounded; the batch path ignores it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

#: Events table schema (the testdata stores ts as TIMESTAMP(MICROS)).
_EVENTS_DDL = ("event_id long, ts timestamp, user_id long, "
               "event_type string, value double, props string")


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """``readStream`` over an events parquet directory (file source =
    replayable, exactly-once)."""
    # ts stays TIMESTAMP (LTZ) here, NOT the NTZ the batch scan
    # produces: Structured Streaming watermarks reject NTZ event time
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and this source feeds the
    # watermarked operators. The instant semantics are timezone-STABLE
    # (naive parquet micros read as epoch instants); only RENDERING of
    # an LTZ value is session-zone-dependent, which is why every
    # window function below converts exposed timestamps back to NTZ
    # UTC fields via ntz_utc() before returning.
    return spark.readStream.schema(_EVENTS_DDL).parquet(path)


def _ts_is_ltz(events: DataFrame) -> bool:
    from pyspark.sql.types import TimestampType
    return isinstance(events.schema["ts"].dataType, TimestampType)


def ntz_utc(col):
    """Exact TIMESTAMP (LTZ) → TIMESTAMP_NTZ carrying the instant's
    UTC calendar fields: epoch micros via unix_micros (pure integer,
    no zone), re-based onto an NTZ epoch literal. Unlike
    CAST(.. AS TIMESTAMP_NTZ) this never consults the session
    timezone, so outputs match the batch scan's naive values on ANY
    driver box (a TZ=America/New_York sweep caught LTZ rendering
    shifting streaming outputs, r7) and have no DST-ambiguity hour."""
    return F.timestamp_add(
        "MICROSECOND", F.unix_micros(col),
        F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'"))


def tumbling_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str | None = None) -> DataFrame:
    """Tumbling event-time window per event_type: count + sum(value)."""
    ltz = _ts_is_ltz(events)
    if watermark and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    start = F.col("w.start")
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select((ntz_utc(start) if ltz else start).alias("window_start"),
                "event_type", "n", "total_value")
    )


def sliding_avg(events: DataFrame, window: str = "1 hour",
                slide: str = "30 minutes",
                watermark: str | None = None) -> DataFrame:
    """Sliding window average value per event_type.

    The average accumulates EXACT integer cents (events.value sits on
    a 2-decimal grid) and divides once at the end — order-independent
    and bit-identical across engines, where `round(avg(double), 4)`
    flipped ulp boundaries between Spark and DuckDB at sf0.1 (9 of
    7205 windows: different partial-sum orders round 43.82375 to
    .8237 vs .8238)."""
    ltz = _ts_is_ltz(events)
    if watermark and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    start = F.col("w.start")
    return (
        events.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
             .alias("_cents"),
             F.count(F.lit(1)).alias("n"))
        .select((ntz_utc(start) if ltz else start).alias("window_start"),
                "event_type",
                F.expr("CAST(_cents AS DOUBLE) / n / 100.0")
                .alias("avg_value"), "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str | None = None) -> DataFrame:
    """Sessionization per user: events within `gap` of each other merge
    into one session (dynamic-length `session_window`)."""
    ltz = _ts_is_ltz(events)
    if watermark and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    start, end = F.col("w.start"), F.col("w.end")
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("session_value"))
        .select((ntz_utc(start) if ltz else start).alias("session_start"),
                (ntz_utc(end) if ltz else end).alias("session_end"),
                "user_id", "n_events", "session_value")
    )


def exactly_once_dedup(events: DataFrame,
                       keys: tuple[str, ...] = ("event_id",),
                       watermark: str | None = None) -> DataFrame:
    """Ingestion-time duplicate elimination by key — the streaming
    counterpart of batch exact dedup (at-least-once upstream delivery →
    exactly-once downstream corpus).

    With a watermark (streaming only) uses
    ``dropDuplicatesWithinWatermark``: keyed state is evicted once the
    watermark passes, so state stays bounded by the dup-arrival window
    — the production configuration. Without one, plain
    ``dropDuplicates`` keeps state for every key ever seen (exact, but
    O(|keys|) state — fine for bounded backfills/AvailableNow runs,
    not for unbounded streams)."""
    if watermark and events.isStreaming:
        deduped = (events.withWatermark("ts", watermark)
                         .dropDuplicatesWithinWatermark(list(keys)))
    else:
        deduped = events.dropDuplicates(list(keys))
    # rows pass through unchanged except the event-time column,
    # normalized to the batch scan's NTZ on BOTH branches so
    # downstream values (and the column's type) don't depend on
    # whether a watermark was supplied or on the session timezone
    if _ts_is_ltz(events):
        deduped = deduped.withColumn("ts", ntz_utc(F.col("ts")))
    return deduped


def run_to_memory_sink(stream_df: DataFrame, name: str,
                       output_mode: str = "complete") -> None:
    """Execute a streaming DataFrame to completion over the currently
    available input (Trigger.AvailableNow) into an in-memory table —
    the batch-verifiable harness for streaming plans."""
    q = (
        stream_df.writeStream.format("memory").queryName(name)
        .outputMode(output_mode).trigger(availableNow=True).start()
    )
    q.awaitTermination()
