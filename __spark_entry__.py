"""Entry-point contract of the spark-graft engine (PySpark target).

A caller runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at some scale factor and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row count + schema +
order-insensitive value hash). Both maps are in registration order.

Implementation lives in ``map_reduce_mongodb_spark``; this module is
the thin adapter callers import.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from map_reduce_mongodb_spark import io as _io  # noqa: E402
from map_reduce_mongodb_spark.pipeline import usgs_pipeline  # noqa: E402
from map_reduce_mongodb_spark.queries import ORACLE_SQL, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's whole
    5-stage USGS→GeoJSON pipeline (SURVEY.md §3.1) as one DataFrame
    program — synthesize USGS-shaped rows from ``events``, project to
    GeoJSON Features, filter+merge per site, export sites with both
    readings. Returns the per-site Feature DataFrame (>0 rows).
    """
    events = _io.table(spark, "events", "/root/testdata/sf0.001")
    return usgs_pipeline(events)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (plus the
    north-star extensions). Each callable takes (spark, sf_dir) and
    returns a DataFrame with oracle-matching column names."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent per query (omitted for the
    genuinely non-SQL-expressible ops → driver does rows-only check)."""
    return dict(ORACLE_SQL)
