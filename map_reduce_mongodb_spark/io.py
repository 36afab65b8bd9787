"""Table catalog — the engine's analogue of the reference's collection
registry (``getCollection`` name→model switch, mongodb.js:30-45) plus
its full-collection scans (``find({})``, mongodb.js:59-67).

In Spark the catalog is just named DataFrames / temp views over
parquet; predicate pushdown, column pruning and partition pruning on
these scans are Catalyst built-ins (SURVEY.md §4.1).

:func:`read_parquet` is the package's one parquet read-back. It
remembers schemas, never DataFrames: every call builds a fresh
relation in the session it is given.
"""

from __future__ import annotations

import atexit
import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Driver test tables (TESTDATA.md). One parquet file per table.
TABLE_NAMES: tuple[str, ...] = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def ensure_worker_imports(spark: SparkSession) -> None:
    """Ship this package to Python workers via addPyFile.

    Python UDF stages (mapInPandas / applyInPandas) pickle module-level
    helpers BY REFERENCE, so workers must be able to import the
    package. The hosting process may have loaded us from a bare
    ``sys.path.insert`` (as ``__spark_entry__.py`` does) which workers
    don't inherit — a zip on the Spark files path works everywhere."""
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
    # runs new code. The zip is tiny; the rebuild is cheaper than the
    # hazard.
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
    # Spark serves the zip from this path for the session's lifetime;
    # once the interpreter exits, nothing reads it.
    if zip_path not in _SHIPPED_ZIPS:
        _SHIPPED_ZIPS.add(zip_path)
        atexit.register(_remove_zip, zip_path, os.getpid())


#: Package zips this process wrote; each is deleted at interpreter exit.
_SHIPPED_ZIPS: set[str] = set()


def _remove_zip(path: str, owner: int) -> None:
    if os.getpid() == owner:   # not in a forked child
        try:
            os.remove(path)
        except OSError:
            pass


#: When set (to anything non-empty), every :func:`table` scan is
#: wrapped in a schema-preserving mapInPandas that FAILS each task's
#: first attempt — the executor-loss / task-retry invariance sweep.
#: At 100 TB on a real cluster task retry is routine; a
#: nondeterministic recompute anywhere (an unseeded sample, a
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


#: Schemas of regular parquet files read without one:
#: path -> (st_mtime_ns, st_size, schema). Inferring a schema is one
#: Spark job over the footers (~100 ms of driver work on sf0.01
#: ``lineitem``); a read given the schema launches none. A schema is
#: plain data, valid for every session and thread. An in-place rewrite
#: changes the stat, so the next read re-infers and replaces the entry.
_SCHEMAS: dict[str, tuple[int, int, StructType]] = {}


def read_parquet(spark: SparkSession, path: str,
                 schema: StructType | None = None) -> DataFrame:
    """The one parquet read-back of the package. Pass ``schema`` when
    the caller knows it (the frame it just wrote): the read then
    launches no schema-inference job. Without one, a regular local
    file's inferred schema is memoized by stat; a directory or a path
    ``os.stat`` cannot see (``hdfs://…``) is inferred on every read."""
    if schema is None:
        try:
            st = os.stat(path)
        except OSError:
            st = None
        if st is None or not stat.S_ISREG(st.st_mode):
            return spark.read.parquet(path)
        hit = _SCHEMAS.get(path)
        if hit is None or hit[:2] != (st.st_mtime_ns, st.st_size):
            df = spark.read.parquet(path)
            _SCHEMAS[path] = (st.st_mtime_ns, st.st_size, df.schema)
            return df
        schema = hit[2]
    return spark.read.schema(schema).parquet(path)


def table(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """Scan one named table (S5 analogue: full scan; Catalyst prunes)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    ensure_worker_imports(spark)
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if os.environ.get(FAULT_INJECT_ENV):
        df = _inject_task_faults(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str,
                register_views: bool = False) -> dict[str, DataFrame]:
    """Load the whole catalog; optionally register temp views so
    ``spark.sql`` / the S7 name-lookup path works by name."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = table(spark, name, sf_dir)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
