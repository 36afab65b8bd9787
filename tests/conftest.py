"""Shared fixtures: one SparkSession per test session, a DuckDB oracle
runner, and a canonical order-insensitive comparator mirroring the
driver's (row-count + schema-compatible + value match on column-name-
sorted, row-sorted data)."""

from __future__ import annotations

import itertools
import json
import math
from collections import Counter

import duckdb
import pytest

from map_reduce_mongodb_spark.io import TABLE_NAMES
from map_reduce_mongodb_spark.session import get_spark

import os

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _canon_value(v):
    """Engine-independent canonical form of one cell."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None  # pandas renders SQL NULL in numeric cols as NaN
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, int):
        # Keep ints distinct from floats: the driver's value hash is
        # dtype-sensitive (a DuckDB HUGEINT fetched as float64 must NOT
        # silently equal a Spark bigint), and repr(float()) loses
        # precision above 2^53.
        return repr(v)
    if isinstance(v, float):
        return None if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):  # datetime / pandas.Timestamp
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return [_canon_value(x) for x in v]
    if hasattr(v, "item"):  # numpy scalar
        return _canon_value(v.item())
    return str(v)


def canonical_rows(pdf) -> Counter:
    """Column-name-sorted, canonicalized multiset of rows."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = Counter()
    for row in pdf.itertuples(index=False, name=None):
        rows[json.dumps([_canon_value(v) for v in row])] += 1
    return rows


_PROBE_GROUPS = itertools.count()


def jobs_launched(spark, fn):
    """Run ``fn()`` in a job group of its own; return its result and
    the ids of the Spark jobs it launched. The listener bus is drained
    first, so the status tracker has seen every job."""
    sc = spark.sparkContext
    group = f"jobs_launched_{next(_PROBE_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def assert_oracle_match(spark_df, ddb_con, sql, name=""):
    got = spark_df.toPandas()
    want = ddb_con.execute(sql).fetchdf()
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: columns differ: spark={sorted(got.columns)} "
        f"duckdb={sorted(want.columns)}")
    assert len(got) == len(want), (
        f"{name}: row count differs: spark={len(got)} duckdb={len(want)}")
    g, w = canonical_rows(got), canonical_rows(want)
    if g != w:
        only_g = list((g - w).elements())[:5]
        only_w = list((w - g).elements())[:5]
        raise AssertionError(
            f"{name}: values differ.\n  only-in-spark: {only_g}\n"
            f"  only-in-duckdb: {only_w}")
