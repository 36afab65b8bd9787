"""Cache hygiene for persisted intermediates.

Several operators legitimately ``persist()`` a mid-plan DataFrame (LSH
signatures consumed by both sides of a self-join, shingle arrays read
by banding AND verification) — recomputing those per consumer is the
wrong trade at corpus scale. But a long-lived session sweeping all ~58
registered queries (a registry sweep, a perfbench run) would
otherwise accumulate every query's caches and lean on LRU eviction.

Contract: operators call :func:`tracked_persist` instead of
``DataFrame.persist``; every registered query builder releases the
PREVIOUS query's caches on entry (see ``queries.query``), so live
cache is bounded by one query regardless of how many the session runs;
``release_caches()`` at the end of a sweep drops the last one.

Releasing a persisted DataFrame is safe ONLY when recomputation
reproduces the same result. That is true of ordinary caches (pure
plans recompute bit-identically) but NOT of plans whose correctness
depends on a single materialization — e.g. a range-partitioned frame
read by two branches, where recomputation re-samples partition
boundaries per branch and can diverge under load (the r6
``distributed_cumsum`` bug). Such plans must use
:func:`checkpoint_leaf` instead: a released checkpoint is DEAD, so a
stale consumer fails loudly rather than silently recomputing wrong.
Checkpoint-backed results must therefore be consumed before the next
registered query is built (true of every entry-point, perfbench and
test flow here, which collect each query before building the next).

A checkpoint owns its blocks: :func:`checkpoint_leaf` reads the
backing RDD from the checkpoint's own plan, never from a diff of the
process-wide persisted-RDD list, so an RDD another client persists
meanwhile is never taken for a checkpoint's block. Iterative operators
drop a superseded round with :func:`release_leaf`; the rest go at
:func:`release_caches`. No caller outside this module sees an RDD
handle.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from typing import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel

from map_reduce_mongodb_spark.io import read_parquet

_LIVE: list[DataFrame] = []
# (checkpoint_leaf result, py4j handle of its backing RDD)
_LEAVES: list[tuple[DataFrame, object]] = []

# -- shared materializations (cross-query, process-scoped) -------------
# key -> (parquet path, schema of the built DataFrame)
_SHARED: dict[str, tuple[str, StructType]] = {}
_SHARED_DIR: str | None = None
# key -> wall seconds spent materializing it (first build only), so
# family build cost is attributed to the shared artifact instead of
# being smeared into whichever consumer ran first.
_BUILD_SECONDS: dict[str, float] = {}
# Stack of shared-build keys currently being materialized, so nested
# operators (connected_components' round count, k-core's peel depth)
# can attribute scalar metrics to the build that ran them.
_CURRENT_BUILD: list[str] = []
_BUILD_METRICS: dict[str, dict[str, object]] = {}


def _shared_dir() -> str:
    global _SHARED_DIR
    if _SHARED_DIR is None:
        _SHARED_DIR = tempfile.mkdtemp(prefix="spark_graft_shared_")
        atexit.register(shutil.rmtree, _SHARED_DIR, ignore_errors=True)
    return _SHARED_DIR


def shared_parquet(spark: SparkSession, key: str,
                   build: Callable[[], DataFrame]) -> DataFrame:
    """Materialize-once intermediate shared ACROSS registered queries.

    Some derived artifacts feed several registered queries — dedup
    cluster labels consumed by both ``dedup_clusters`` and
    ``dedup_survivors``, winnowing fingerprints consumed by the
    fingerprint listing AND the pair search. Rebuilding them per query
    runs the same expensive pipeline twice; ``tracked_persist`` can't
    bridge queries because every query builder releases the previous
    query's caches (and checkpoint-backed plans die with their RDD
    blocks).

    This helper mirrors the production answer — at 100 TB you write the
    labels/fingerprint table to storage ONCE and every consumer reads
    the materialization — scoped to this process: on first request the
    built DataFrame is written to a process-temp parquet; afterwards
    consumers get a plain parquet scan, immune to cache release. The
    scan is given the built DataFrame's schema (``io.read_parquet``),
    so reading it back launches no schema-inference job over the
    parquet footers. The key must encode every input that determines
    the content (sf_dir, thresholds). A process that runs a single
    query simply rebuilds: correctness never depends on a hit.
    """
    if key not in _SHARED:
        import hashlib
        import re
        import time

        # readable sanitized prefix + hash of the RAW key: sanitizing
        # alone maps distinct keys like 'labels:sf0.1' / 'labels/sf0.1'
        # to the same file, and the second build would silently
        # overwrite the first key's data under every consumer
        fname = (re.sub(r"[^A-Za-z0-9_.-]+", "_", key)
                 + "-" + hashlib.md5(key.encode()).hexdigest()[:10])
        path = f"{_shared_dir()}/{fname}"
        t0 = time.perf_counter()
        _CURRENT_BUILD.append(key)
        try:
            built = build()
            built.write.mode("overwrite").parquet(path)
        finally:
            _CURRENT_BUILD.pop()
        _BUILD_SECONDS[key] = round(time.perf_counter() - t0, 3)
        _SHARED[key] = (path, built.schema)
    return read_parquet(spark, *_SHARED[key])


def shared_value(key: str, build: Callable[[], object]) -> object:
    """Materialize-once DRIVER-SIDE value shared across registered
    queries — the plain-Python twin of :func:`shared_parquet`, for
    trained index METADATA (k-means centroids, PQ codebooks: a few KB
    of floats), never corpus-scaled data. An exactness-gate query and
    its production twin both need the identical trained index; memoing
    it means the gate certifies the SAME index instance the production
    query serves (strictly stronger than relying on retraining
    determinism, which is partition-layout-sensitive in its last bit)
    and the multi-pass training scan runs once per process instead of
    once per consumer. Build wall time lands in ``shared_builds`` like
    any other shared artifact; one-process-per-query harnesses simply
    rebuild — correctness never depends on a hit."""
    if key not in _SHARED_VALUES:
        import time
        t0 = time.perf_counter()
        _CURRENT_BUILD.append(key)
        try:
            _SHARED_VALUES[key] = build()
        finally:
            _CURRENT_BUILD.pop()
        _BUILD_SECONDS[key] = round(time.perf_counter() - t0, 3)
    return _SHARED_VALUES[key]


_SHARED_VALUES: dict[str, object] = {}


def note_build_metric(name: str, value) -> None:
    """Attach a scalar metric (e.g. an iterative operator's round
    count) to the shared build currently materializing, else to the
    ``_unattributed`` bucket. Repeated notes under the same key
    accumulate into a list so multi-invocation builds stay visible."""
    key = _CURRENT_BUILD[-1] if _CURRENT_BUILD else "_unattributed"
    slot = _BUILD_METRICS.setdefault(key, {})
    if name in slot:
        prev = slot[name]
        slot[name] = (prev if isinstance(prev, list) else [prev]) + [value]
    else:
        slot[name] = value


def shared_build_metrics() -> dict[str, dict[str, object]]:
    """Per-build-key metrics noted during materialization (round
    counts etc.), as a copy."""
    return {k: dict(v) for k, v in _BUILD_METRICS.items()}


def shared_build_seconds() -> dict[str, float]:
    """Per-key wall seconds spent on first-build materializations this
    process (empty for keys served from the process cache)."""
    return dict(_BUILD_SECONDS)


def forget_shared_artifacts() -> None:
    """Drop the shared-materialization memos (parquet paths AND
    driver-side trained values) WITHOUT resetting the build-seconds /
    metrics attribution, so the next consumer re-pays every shared
    build. A caller timing repeated cold runs (perfbench drops the
    artifacts before every job) calls this between runs and reads the
    attribution of the run before it first: a rebuild overwrites its
    key's build seconds and appends to its metrics."""
    _SHARED.clear()
    _SHARED_VALUES.clear()


def clear_shared() -> None:
    """Forget shared materializations (tests / corpus swaps). Also
    resets the build-seconds attribution so tests asserting on
    :func:`shared_build_seconds` keys are hermetic — without this, a
    same-prefix key built earlier in the session under a different
    corpus would satisfy (or poison) a later assertion.
    The metrics attribution (:func:`shared_build_metrics`) is reset for
    the same reason — the cross-corpus poisoning applies verbatim to
    cc_rounds/kcore_rounds assertions."""
    _SHARED.clear()
    _SHARED_VALUES.clear()
    _BUILD_SECONDS.clear()
    _BUILD_METRICS.clear()


def tracked_persist(df: DataFrame,
                    level: StorageLevel = StorageLevel.MEMORY_AND_DISK
                    ) -> DataFrame:
    """persist() + register for bulk release. MEMORY_AND_DISK (the
    default) spills instead of evicting at scale."""
    df = df.persist(level)
    _LIVE.append(df)
    return df


def checkpoint_leaf(df: DataFrame) -> DataFrame:
    """Eagerly checkpoint ``df`` into a plan LEAF that owns its blocks.

    Every consumer (and every union branch) reads the materialization
    instead of re-running the subtree, and lineage is cut, so an
    iterative loop's plan stays flat. Use this instead of
    :func:`tracked_persist` whenever the plan's CORRECTNESS (not just
    its cost) depends on a single materialization: a released block
    fails loudly instead of silently recomputing a divergent result
    (module docstring).

    The backing RDD is read from the result's own plan (a
    ``LogicalRDD``; ``DataFrame.unpersist`` does not release it) and
    registered for :func:`release_caches`; :func:`release_leaf` drops
    it earlier. Reaching it goes through the private Py4J handle
    ``_jdf`` (developed against Spark 4.1). If a future Spark moves
    it, the leaf is simply not registered: its blocks die with the
    session or the ContextCleaner instead of the query crashing.

    Cluster mode: executor-LOCAL checkpoint blocks die with a lost
    executor, so when the session has a fault-tolerant checkpoint dir
    configured (``SparkContext.setCheckpointDir``, HDFS/S3 in
    production) this switches to reliable ``DataFrame.checkpoint``:
    same plan shape, files instead of blocks, survives executor loss.
    Checkpoint files are owned by the ContextCleaner
    (``spark.cleaner.referenceTracking.cleanCheckpoints=true`` reaps
    them eagerly), so nothing is registered. Whether a dir is set is
    the only switch."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    out = df.localCheckpoint(eager=True)
    try:
        rdd = out._jdf.queryExecution().logical().rdd()
    except (AttributeError, Py4JError):  # the handle or plan moved
        return out
    _LEAVES.append((out, rdd))
    return out


def release_leaf(df: DataFrame) -> None:
    """Unpersist a :func:`checkpoint_leaf` result now (non-blocking)
    and forget it; ``df`` is dead afterwards. A no-op for a frame this
    module did not register."""
    for i, (leaf, rdd) in enumerate(_LEAVES):
        if leaf is df:
            del _LEAVES[i]
            rdd.unpersist(False)
            return


def release_caches() -> int:
    """Unpersist every tracked DataFrame and checkpoint leaf
    (non-blocking); returns how many were released."""
    n = len(_LIVE) + len(_LEAVES)
    while _LIVE:
        _LIVE.pop().unpersist()
    while _LEAVES:
        _LEAVES.pop()[1].unpersist(False)
    return n
