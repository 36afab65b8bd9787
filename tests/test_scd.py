"""scd2_apply invariants: exactly one open row per key, versions
increment, history is append-only (row count = dim + |updates|)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_mongodb_spark.operators.scd import (
    scd2_apply, scd2_replay_stream)


def _dim(spark):
    rows = [(k, f"seg{k % 3}", "1992-01-01", None, 1) for k in range(20)]
    return spark.createDataFrame(
        rows, "k long, seg string, valid_from string, valid_to string, "
              "version int") \
        .select("k", "seg",
                F.col("valid_from").cast("timestamp").alias("valid_from"),
                F.col("valid_to").cast("timestamp").alias("valid_to"),
                "version")


def test_scd2_apply_invariants(spark):
    dim = _dim(spark)
    upd = spark.createDataFrame(
        [(k, "NEW", "1998-06-01") for k in range(0, 20, 4)],
        "k long, seg string, effective_ts string") \
        .select("k", "seg",
                F.col("effective_ts").cast("timestamp")
                .alias("effective_ts"))
    out = scd2_apply(dim, upd, "k", ["seg"]).cache()

    assert out.count() == 20 + 5  # append-only
    open_rows = out.where(F.col("valid_to").isNull())
    assert open_rows.count() == 20  # one open row per key
    assert open_rows.groupBy("k").count().where("count > 1").count() == 0
    v2 = out.where("version = 2")
    assert {r.k for r in v2.collect()} == set(range(0, 20, 4))
    assert v2.where("seg <> 'NEW'").count() == 0
    closed = out.where("valid_to IS NOT NULL")
    assert {r.k for r in closed.collect()} == set(range(0, 20, 4))
    assert closed.where("version <> 1").count() == 0


def test_scd2_apply_second_batch_composes(spark):
    """Applying a second batch closes the version-2 rows, not history."""
    dim = _dim(spark)
    mk = lambda eff, seg, keys: spark.createDataFrame(  # noqa: E731
        [(k, seg, eff) for k in keys],
        "k long, seg string, effective_ts string") \
        .select("k", "seg", F.col("effective_ts").cast("timestamp")
                .alias("effective_ts"))
    once = scd2_apply(dim, mk("1998-06-01", "NEW", [4]), "k", ["seg"])
    twice = scd2_apply(once, mk("1999-01-01", "NEWER", [4]), "k",
                       ["seg"])
    hist = sorted((r.version, r.seg,
                   r.valid_to is None)
                  for r in twice.where("k = 4").collect())
    assert hist == [(1, "seg1", False), (2, "NEW", False),
                    (3, "NEWER", True)]


def test_scd2_apply_duplicate_key_batch_compacts(spark):
    """A batch with duplicate keys is compacted before the join:
    greatest effective_ts wins (deterministic tie-break on attrs),
    closed history never fans out, and the result is IDENTICAL to
    applying the pre-compacted batch — the r9→r11 carried hazard
    (docstring-only contract until now)."""
    dim = _dim(spark)
    # close key 4's v1 first so the dim contains closed history
    once = scd2_apply(
        dim,
        spark.createDataFrame([(4, "MID", "1995-01-01")],
                              "k long, seg string, effective_ts string")
        .select("k", "seg", F.col("effective_ts").cast("timestamp")
                .alias("effective_ts")),
        "k", ["seg"])
    dup = spark.createDataFrame(
        [(4, "LOSER", "1998-06-01"),
         (4, "WINNER", "1999-01-01"),   # latest effective_ts wins
         (4, "ALSO_LOSER", "1998-06-01"),
         (7, "TIE_B", "1998-06-01"),    # exact-tie pair: struct max
         (7, "TIE_A", "1998-06-01")],   # picks TIE_B (attr order)
        "k long, seg string, effective_ts string") \
        .select("k", "seg", F.col("effective_ts").cast("timestamp")
                .alias("effective_ts"))
    out = scd2_apply(once, dup, "k", ["seg"]).cache()

    # append-only vs the COMPACTED batch size (2 keys), not the raw 5
    assert out.count() == 21 + 2
    # closed history for key 4 (the v1 row) passed through exactly once
    k4 = sorted((r.version, r.seg, r.valid_to is None)
                for r in out.where("k = 4").collect())
    assert k4 == [(1, "seg1", False), (2, "MID", False),
                  (3, "WINNER", True)]
    # deterministic tie-break: lexicographically greatest attr struct
    k7 = sorted((r.version, r.seg, r.valid_to is None)
                for r in out.where("k = 7").collect())
    assert k7 == [(1, "seg1", False), (2, "TIE_B", True)]
    # identical to applying the hand-compacted batch
    pre = spark.createDataFrame(
        [(4, "WINNER", "1999-01-01"), (7, "TIE_B", "1998-06-01")],
        "k long, seg string, effective_ts string") \
        .select("k", "seg", F.col("effective_ts").cast("timestamp")
                .alias("effective_ts"))
    expect = scd2_apply(once, pre, "k", ["seg"])
    assert (out.exceptAll(expect).count() == 0
            and expect.exceptAll(out).count() == 0)


def test_scd2_replay_raises_when_stream_times_out(spark, tmp_path,
                                                  monkeypatch):
    """A replay whose stream has not drained in time raises rather
    than return a half-folded dimension."""
    from pyspark.sql.streaming.query import StreamingQuery
    monkeypatch.setattr(StreamingQuery, "awaitTermination",
                        lambda self, timeout=None: False)
    upd = spark.createDataFrame(
        [(4, "NEW", "1998-06-01")],
        "k long, seg string, effective_ts string") \
        .select("k", "seg", F.col("effective_ts").cast("timestamp")
                .alias("effective_ts"))
    with pytest.raises(TimeoutError):
        scd2_replay_stream(_dim(spark), [upd], "k", ["seg"],
                           str(tmp_path / "work"))
