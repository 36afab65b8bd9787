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
:func:`eager_checkpoint` instead: a released checkpoint is DEAD, so a
stale consumer fails loudly rather than silently recomputing wrong.
Checkpoint-backed results (:func:`track_rdd` /
:func:`eager_checkpoint`) must therefore be consumed before the next
registered query is built (true of every entry-point, perfbench and
test flow here, which collect each query before building the next).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_LIVE: list[DataFrame] = []
_LIVE_RDDS: list = []  # py4j handles of localCheckpoint-persisted RDDs

# -- shared materializations (cross-query, process-scoped) -------------
_SHARED: dict[str, str] = {}   # key -> parquet path
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
    key must encode every input that determines the content (sf_dir,
    thresholds). One-process-per-query harnesses (the grading driver's
    isolation mode) simply rebuild: correctness never depends on a hit.
    """
    if key not in _SHARED:
        import hashlib
        import re
        import time

        # readable sanitized prefix + hash of the RAW key: sanitizing
        # alone maps distinct keys like 'labels:sf0.1' / 'labels/sf0.1'
        # to the same file, and the second build would silently
        # overwrite the first key's data under every consumer
        # (r9 review)
        fname = (re.sub(r"[^A-Za-z0-9_.-]+", "_", key)
                 + "-" + hashlib.md5(key.encode()).hexdigest()[:10])
        path = f"{_shared_dir()}/{fname}"
        t0 = time.perf_counter()
        _CURRENT_BUILD.append(key)
        try:
            build().write.mode("overwrite").parquet(path)
        finally:
            _CURRENT_BUILD.pop()
        _BUILD_SECONDS[key] = round(time.perf_counter() - t0, 3)
        _SHARED[key] = path
    return spark.read.parquet(_SHARED[key])


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
    corpus would satisfy (or poison) a later assertion (ADVICE r8).
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


def _persistent_rdds(spark) -> dict:
    """id → JVM RDD handle of every currently-persisted RDD.

    Deliberate private-API use, version-pinned: ``SparkContext._jsc``
    (the Py4J JavaSparkContext) and ``sc().getPersistentRDDs()`` (a
    PUBLIC Scala API, reached through the private Python handle) are
    stable across Spark 3.x/4.x (developed against 4.1). There is no
    public PySpark surface that enumerates persisted RDDs, and
    ``DataFrame.unpersist`` does not release localCheckpoint blocks —
    this is the only way to free them. If a future Spark moves the
    handle, the except below degrades GRACEFULLY: checkpoint blocks
    are simply not freed early (they still die with the session /
    ContextCleaner), trading memory hygiene for correctness instead of
    crashing the query."""
    try:
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        out = {}
        while it.hasNext():
            t = it.next()
            out[t._1()] = t._2()
        return out
    except Exception:  # AttributeError (API moved) or Py4J errors
        return {}


def eager_checkpoint(df: DataFrame):
    """``localCheckpoint(eager=True)`` + the JVM handles of the RDD
    blocks it just persisted (``DataFrame.unpersist`` does NOT release
    those — they must be dropped at the RDD level; register them with
    :func:`track_rdd` or release them when a loop supersedes them).
    Assumes the single-threaded query-builder context: no concurrent
    persists.

    Use this instead of :func:`tracked_persist` whenever the plan's
    CORRECTNESS (not just its cost) depends on a single
    materialization — a checkpoint severs lineage, so a released/lost
    block fails loudly instead of silently recomputing a divergent
    result (module docstring).

    Cluster mode: executor-LOCAL checkpoint blocks die with a lost
    executor (the first casualty of a multi-hour 100 TB job), so when
    the session has a fault-tolerant checkpoint dir configured
    (``SparkContext.setCheckpointDir`` — HDFS/S3 in production) this
    AUTOMATICALLY switches to reliable ``DataFrame.checkpoint``: same
    plan shape, files instead of blocks, survives executor loss.
    Checkpoint files are owned by the ContextCleaner
    (``spark.cleaner.referenceTracking.cleanCheckpoints=true`` to
    reap them eagerly); no RDD handles to track. Set
    ``spark.graft.reliableCheckpoint=off`` to force the local path
    even with a dir configured (tests do, to stay hermetic)."""
    spark = df.sparkSession
    try:
        mode = spark.conf.get("spark.graft.reliableCheckpoint", "auto")
    except Exception:
        mode = "auto"
    if mode != "off" and spark.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True), []
    before = set(_persistent_rdds(spark))
    out = df.localCheckpoint(eager=True)
    handles = [r for i, r in _persistent_rdds(spark).items()
               if i not in before]
    return out, handles


def checkpoint_leaf(df: DataFrame) -> DataFrame:
    """:func:`eager_checkpoint` + :func:`track_rdd` in one step: turn a
    reused node-scaled table into a plan LEAF so every consumer (and
    every union branch) reads the materialization instead of re-running
    the subtree (the r9 union-duplication sweep's standard fix). The
    backing blocks are registered for bulk :func:`release_caches`."""
    ck, handles = eager_checkpoint(df)
    for h in handles:
        track_rdd(h)
    return ck


def track_rdd(handle) -> None:
    """Register a JVM RDD handle (e.g. a DataFrame.localCheckpoint's
    backing RDD, which DataFrame.unpersist() does NOT release) for
    bulk release. After release the checkpointed DataFrame is dead —
    only register blocks whose consumer finished or whose result the
    next query rebuild can recompute from source."""
    _LIVE_RDDS.append(handle)


def release_caches() -> int:
    """Unpersist every tracked DataFrame and checkpoint RDD
    (non-blocking); returns how many were released."""
    n = len(_LIVE) + len(_LIVE_RDDS)
    while _LIVE:
        _LIVE.pop().unpersist()
    while _LIVE_RDDS:
        _LIVE_RDDS.pop().unpersist(False)
    return n
