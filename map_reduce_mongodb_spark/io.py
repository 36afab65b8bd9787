"""Table catalog — the engine's analogue of the reference's collection
registry (``getCollection`` name→model switch, mongodb.js:30-45) plus
its full-collection scans (``find({})``, mongodb.js:59-67).

In Spark the catalog is just named DataFrames / temp views over
parquet; predicate pushdown, column pruning and partition pruning on
these scans are Catalyst built-ins (SURVEY.md §4.1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

#: Driver test tables (TESTDATA.md). One parquet file per table.
TABLE_NAMES: tuple[str, ...] = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: Timestamp columns whose parquet unit has varied across driver
#: testdata generations (current snapshots store TIMESTAMP(MICROS),
#: which Spark reads natively; older ones stored TIMESTAMP(NANOS),
#: which lands as BIGINT under ``spark.sql.legacy.parquet.nanosAsLong``).
#: The scan is dtype-defensive: the DIV-1000 conversion below applies
#: only when the column actually arrives as bigint — lossless either
#: way, the corpus has 0 sub-µs digits. Streaming readers probe the
#: footer for the same tolerance (streaming/windows.py).
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def sf_dir_from_env(default: str = DEFAULT_SF_DIR) -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def ensure_worker_imports(spark: SparkSession) -> None:
    """Ship this package to Python workers via addPyFile.

    Python UDF stages (mapInPandas / applyInPandas) pickle module-level
    helpers BY REFERENCE, so workers must be able to import the
    package. The hosting process may have loaded us from a bare
    ``sys.path.insert`` (the grading driver does) which workers don't
    inherit — a zip on the Spark files path works everywhere."""
    flag = "_mrms_pkg_shipped"
    sc = spark.sparkContext
    if getattr(sc, flag, False):
        return
    import zipfile
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join("/tmp", f"mrms_pkg_{os.getpid()}.zip")
    # ALWAYS rebuild (once per process, guarded by the sc flag above):
    # reusing an existing file keyed on pid alone would ship a STALE
    # zip when a later process collides on pid after the package was
    # edited (routine where the entrypoint pid is stable and /tmp
    # persists) — workers would then import old code while the driver
    # runs new code (r9 review). The zip is tiny; the rebuild is
    # cheaper than the hazard.
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
    sc.addPyFile(zip_path)
    setattr(sc, flag, True)


#: When set (to anything non-empty), every :func:`table` scan is
#: wrapped in a schema-preserving mapInPandas that FAILS each task's
#: first attempt — the executor-loss / task-retry invariance sweep
#: (VERDICT r8 #4). At 100 TB on a real cluster task retry is routine;
#: a nondeterministic recompute anywhere (an unseeded sample, a
#: non-checksummed checkpoint) would be a silent wrong answer that
#: only shows up under failure. Requires a ``local[N, maxFailures]``
#: master (default local mode has maxFailures=1 — the injected failure
#: would kill the job instead of exercising the retry path). Test /
#: rehearsal instrumentation only — never set in production; the
#: wrapper sits above the scan, so pushdown/pruning are deliberately
#: sacrificed for the sweep.
FAULT_INJECT_ENV = "SPARK_GRAFT_FAULT_INJECT"


def _inject_task_faults(df: DataFrame) -> DataFrame:
    """Fail attempt 0 of every task of every downstream stage that
    pipelines this scan (retries then succeed): deterministic,
    total-coverage injection at the stage class that dominates a real
    cluster's failure budget (source scans)."""
    def fail_first(batches):
        from pyspark import TaskContext
        ctx = TaskContext.get()
        if ctx is not None and ctx.attemptNumber() == 0:
            raise RuntimeError(
                "injected task failure (attempt 0) — fault-invariance "
                "sweep; if this kills a job the master lacks "
                "local[N, maxFailures]")
        yield from batches
    return df.mapInPandas(fail_first, df.schema)


#: Memoized scan PLANS (never data): (session identity, path,
#: mtime_ns, size) → analyzed base DataFrame. ``spark.read.parquet``
#: costs ~100 ms of driver work per call (file listing + footer/schema
#: read + analysis); the registry makes ~400 such calls per sweep, so
#: re-deriving an identical lazy plan per query burned tens of seconds
#: of pure driver overhead (guide §6's file-listing-cache point, one
#: level up). The cached object is an UNEXECUTED plan — every consumer
#: still computes from the parquet bytes — and the key's stat fields
#: auto-invalidate when a test rewrites the file in place. Entries die
#: with the process; a stopped session's plans are unreachable via the
#: session key.
#:
#: The key is PER-SESSION (a uuid token stashed on the Python
#: SparkSession wrapper, plus applicationId), not per-application: a
#: DataFrame belongs to the session that created it — under an
#: application-wide key, a plan cached by a ``spark.newSession()``
#: clone (the streaming queries use one to pin shuffle partitions)
#: would leak into the parent, and ``createOrReplaceTempView`` on it
#: registers in the CLONE's catalog, breaking a later ``spark.sql``
#: on the parent (caught by the r12 full-registry profile:
#: ``sql_surface_cte_exists`` TABLE_OR_VIEW_NOT_FOUND).
_SCAN_CACHE: dict[tuple[str, str, str, int, int], DataFrame] = {}


def clear_scan_cache() -> None:
    """Forget memoized scan plans (corpus swaps mid-process are already
    handled by the stat-keyed cache key; this is for tests)."""
    _SCAN_CACHE.clear()


def table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Scan one named table (S5 analogue: full scan; Catalyst prunes)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    sf_dir = sf_dir or sf_dir_from_env()
    # Defensive: the caller's session may not come from get_spark() (the
    # grading driver builds its own); without this conf the nano-
    # timestamp parquet is unreadable. Runtime-settable, verified.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ensure_worker_imports(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        # Session identity = a uuid token stashed on the Python wrapper
        # (ADVICE r12: the JVM toString() is class@identityHashCode,
        # which is NOT guaranteed unique across live sessions — two
        # newSession() clones could in principle collide and hand one
        # session a plan bound to the other's catalog). A per-wrapper
        # token can never collide; two wrappers of the SAME JVM session
        # at worst duplicate a plan entry, which is harmless.
        token = getattr(spark, "_mrms_scan_token", None)
        if token is None:
            import uuid
            token = uuid.uuid4().hex
            spark._mrms_scan_token = token
        key = (spark.sparkContext.applicationId, token, path,
               st.st_mtime_ns, st.st_size)
    except Exception:
        key = None  # non-local path (hdfs://…, OSError) or a session
        #             that rejects attribute stashing: read uncached
    df = _SCAN_CACHE.get(key) if key is not None else None
    if df is None:
        df = spark.read.parquet(path)
        for c in _NANO_TS_COLS.get(name, ()):
            if c in df.columns and dict(df.dtypes)[c] == "bigint":
                # Integer DIV, not `/`: float division of epoch-nanos
                # loses precision beyond double's 53-bit mantissa.
                # timestampadd on an NTZ epoch base, NOT
                # timestamp_micros: the parquet values are naive (no
                # zone), and micros files read natively as
                # TIMESTAMP_NTZ — producing LTZ here would make the
                # column's rendered values depend on the session
                # timezone AND on which unit the corpus was written
                # with.
                df = df.withColumn(c, F.expr(
                    f"timestampadd(MICROSECOND, {c} DIV 1000, "
                    f"TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
        if key is not None:
            # Evict every entry for the same (application, path) whose
            # stat differs, under ANY wrapper token: after an in-place
            # rewrite those plans are dead for every session, and each
            # would otherwise pin its JVM session via the py4j
            # reference for the process lifetime. Same-stat entries of
            # other tokens stay live.
            stale = [k for k in _SCAN_CACHE
                     if k[0] == key[0] and k[2] == key[2]
                     and k[3:] != key[3:]]
            for k in stale:
                del _SCAN_CACHE[k]
            _SCAN_CACHE[key] = df
    if os.environ.get(FAULT_INJECT_ENV):
        df = _inject_task_faults(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str | None = None,
                register_views: bool = False) -> dict[str, DataFrame]:
    """Load the whole catalog; optionally register temp views so
    ``spark.sql`` / the S7 name-lookup path works by name."""
    sf_dir = sf_dir or sf_dir_from_env()
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = table(spark, name, sf_dir)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
