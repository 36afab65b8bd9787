"""Schema memo of io.read_parquet behind io.table: a repeat scan
reuses the inferred schema (no Spark job) but builds a fresh relation
in the session it is given — session isolation (the
sql_surface_cte_exists regression) holds by construction — and an
in-place rewrite re-infers for every session."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from map_reduce_mongodb_spark.io import table
from tests.conftest import SF_DIR, jobs_launched


def test_repeat_scan_reuses_schema_without_a_job(spark):
    a = table(spark, "region", SF_DIR)
    b, jobs = jobs_launched(spark, lambda: table(spark, "region", SF_DIR))
    assert jobs == []  # no schema-inference job over the footers
    assert b.dtypes == a.dtypes
    assert b.count() == a.count() > 0  # still computes from parquet


def test_child_session_gets_its_own_plan_and_parent_views_resolve(spark):
    """r12 regression: with an application-wide cache key, a
    spark.newSession() clone's DataFrame leaked into the parent, and
    createOrReplaceTempView registered the view in the CLONE's catalog
    — a later spark.sql on the parent raised TABLE_OR_VIEW_NOT_FOUND
    (observed as stream_static_enrich → sql_surface_cte_exists)."""
    child = spark.newSession()
    c = table(child, "region", SF_DIR)
    p = table(spark, "region", SF_DIR)
    assert c is not p  # per-session entries
    # the parent-session plan must register into the PARENT's catalog
    p.createOrReplaceTempView("scan_cache_probe")
    n = spark.sql("SELECT count(*) AS n FROM scan_cache_probe").head()[0]
    assert n == p.count()
    spark.catalog.dropTempView("scan_cache_probe")


def test_rewritten_file_invalidates_entry(spark, tmp_path):
    shutil.copy(f"{SF_DIR}/region.parquet", tmp_path / "region.parquet")
    before = table(spark, "region", str(tmp_path))
    n_before = before.count()
    # rewrite the file in place with a subset — mtime/size change
    sub = before.where(F.col("r_regionkey") < 2).toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.Table.from_pandas(sub), tmp_path / "region.parquet")
    after = table(spark, "region", str(tmp_path))
    assert after is not before
    assert after.count() == 2 < n_before


def test_rewrite_reads_new_rows_in_every_session(spark, tmp_path):
    """After an in-place rewrite, a read through another session and
    then through the first both see the new file, not a schema or
    plan remembered from the old one."""
    path = tmp_path / "region.parquet"
    shutil.copy(f"{SF_DIR}/region.parquet", path)
    before = table(spark, "region", str(tmp_path))
    assert before.count() > 2
    sub = before.where(F.col("r_regionkey") < 2).toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.Table.from_pandas(sub), path)
    assert table(spark.newSession(), "region", str(tmp_path)).count() == 2
    assert table(spark, "region", str(tmp_path)).count() == 2
