"""The three workloads. Each op is timed by the caller's closed loop and
its output is checked here; a wrong output is a failed op.

All calls into the program go through the public module functions, so
the traced run can wrap each of them in a span (``instrument``).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

from map_reduce_mongodb_spark import cache, queries
from map_reduce_mongodb_spark.operators import dedup, graph
from map_reduce_mongodb_spark.pipeline import usgs as pipeline
from map_reduce_mongodb_spark.sinks import (
    export_feature_collection_json, write_stage)
from map_reduce_mongodb_spark.sources.usgs import read_usgs_json

import inputs
from proc import tree_cpu_s


class OpResult:
    """``cpu_s``: CPU seconds the process tree used while the op ran."""

    __slots__ = ("latency_s", "ok", "cpu_s", "records", "queries", "error")

    def __init__(self, latency_s: float, ok: bool, cpu_s: float = 0.0,
                 records: int = 0, queries: int = 0, error: str = ""):
        self.latency_s, self.ok, self.cpu_s = latency_s, ok, cpu_s
        self.records, self.queries, self.error = records, queries, error


class UsgsEtl:
    """One run of the reference pipeline over the landed responses."""

    name = "usgs_etl"
    input_kind = "usgs"
    input_size = inputs.USGS_SIZE
    #: op CPU falls from ~10 s (cold) to ~2.5 s over about 20 ops as
    #: the JIT compiles; eight cover the steep part within the run's
    #: time budget
    warm_up_ops = 8

    def __init__(self, spark, data_dir: str, truth: dict, work_dir: str,
                 seed: int, tracer):
        self.spark, self.data = spark, os.path.join(data_dir, "data")
        self.truth, self.tracer = truth, tracer
        self.out_root = os.path.join(work_dir, "usgs_out")

    def run_op(self, i: int) -> OpResult:
        tr, spark = self.tracer, self.spark
        out = os.path.join(self.out_root, f"op{i}")
        fc_path = os.path.join(out, "feature_collection.json")
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        with tr.span("op") as op_span:
            with tr.span("sources.usgs.read_usgs_json"):
                raw = read_usgs_json(spark, self.data)
            with tr.span("pipeline.usgs.geojson_features"):
                feats = pipeline.geojson_features(raw)
            with tr.span("sinks.write_stage.features"):
                features = write_stage(feats, f"{out}/features")
            with tr.span("pipeline.usgs.merge_sites"):
                merged = pipeline.merge_sites(features)
            with tr.span("sinks.write_stage.joined"):
                joined = write_stage(merged, f"{out}/joined")
            with tr.span("pipeline.usgs.export_features"):
                exp = pipeline.export_features(joined)
            with tr.span("sinks.write_stage.export"):
                exported = write_stage(exp, f"{out}/export")
            with tr.span("pipeline.usgs.feature_collection"):
                fc = pipeline.feature_collection(
                    exported.orderBy("properties.siteCode"))
            with tr.span("sinks.export_feature_collection_json"):
                export_feature_collection_json(fc, fc_path)
        latency = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        if tr.enabled:
            _usgs_trace_counts(op_span, merged, out)
        with open(fc_path) as f:
            data = json.load(f).get("data", [])
        ok = (len(data) == self.truth["features"]
              and inputs.feature_collection_digest(data)
              == self.truth["fc_sha256"])
        shutil.rmtree(out, ignore_errors=True)
        return OpResult(latency, ok, cpu, records=self.truth["records"],
                        error="" if ok else "feature collection mismatch")


def _usgs_trace_counts(op_span, merged, out: str) -> None:
    """Counts noted on the op span after the op (not timed): shuffle
    exchanges planned for merge_sites, and the parquet the stages wrote."""
    plan = merged._jdf.queryExecution().executedPlan().toString()
    n_bytes = n_files = 0
    for stage in ("features", "joined", "export"):
        for root, _dirs, files in os.walk(os.path.join(out, stage)):
            for fn in files:
                if fn.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(root, fn))
    op_span.counts.update({
        "exchanges": sum(1 for line in plan.splitlines()
                         if "Exchange " in line),
        "output_bytes": n_bytes, "output_files": n_files})


class TpchMix:
    """One TPC-H-shaped registry query, result collected; each round
    runs all 22 in a seed-shuffled order."""

    name = "tpch_mix"
    input_kind = "corpus"
    input_size = inputs.CORPUS_SIZE
    warm_up_ops = 22

    def __init__(self, spark, data_dir: str, truth: dict, work_dir: str,
                 seed: int, tracer):
        self.spark, self.sf_dir = spark, os.path.join(data_dir, "data")
        self.truth, self.tracer = truth, tracer
        self.names = inputs.tpch_queries(queries.QUERIES)
        self._rng = random.Random(seed)
        self._order: list[str] = []

    def run_op(self, i: int) -> OpResult:
        if not self._order:
            self._order = list(self.names)
            self._rng.shuffle(self._order)
        name = self._order.pop()
        tr = self.tracer
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        with tr.span("op"):
            pdf = _run_query(tr, self.spark, name, self.sf_dir)
        latency = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        ok = inputs.digest_rows(pdf) == self.truth["oracles"][name]
        return OpResult(latency, ok, cpu, queries=1,
                        error="" if ok else f"{name} differs from oracle")


class DedupCuration:
    """One curation job over a fresh corpus snapshot: every cache and
    shared artifact is dropped first, so each job pays its own builds."""

    name = "dedup_curation"
    input_kind = "corpus"
    input_size = inputs.CORPUS_SIZE
    #: the first job after the cold one still takes ~40% more CPU than
    #: the later ones, so it is a warm-up job too
    warm_up_ops = 2
    JOB = ("minhash_dedup_pairs", "dedup_clusters", "dedup_survivors",
           "semantic_dedup_clusters", "semantic_dedup_survivors")

    def __init__(self, spark, data_dir: str, truth: dict, work_dir: str,
                 seed: int, tracer):
        self.spark, self.sf_dir = spark, os.path.join(data_dir, "data")
        self.truth, self.tracer = truth, tracer
        self.exact_pairs = {tuple(p) for p in truth["jaccard_pairs"]}
        self.records = (truth["counts"]["documents"]
                        + truth["counts"]["embeddings"])
        self.released = 0

    def reset(self) -> None:
        """Release contract: the previous job's results were consumed
        (and, when traced, its shared-build seconds and metrics were
        snapshotted by ``_trace_counts`` before they are forgotten)."""
        self.released = cache.release_caches()
        self.spark.catalog.clearCache()
        cache.forget_shared_artifacts()

    def run_op(self, i: int) -> OpResult:
        self.reset()
        tr = self.tracer
        results = {}
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        with tr.span("op") as op_span:
            tr.count("released", self.released)
            for name in self.JOB:
                results[name] = _run_query(tr, self.spark, name, self.sf_dir)
        latency = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        if tr.enabled:
            self._trace_counts(op_span, results)
        error = self._check(results)
        return OpResult(latency, not error, cpu, records=self.records,
                        queries=len(self.JOB), error=error)

    def _trace_counts(self, op_span, results: dict) -> None:
        """Counts noted on the op span after the job (not timed). The
        LSH candidate pairs are counted by re-running their plan."""
        builds = cache.shared_build_seconds()
        rounds = 0
        for m in cache.shared_build_metrics().values():
            r = m.get("cc_rounds")
            if r is not None:
                rounds += r[-1] if isinstance(r, list) else r
        cands = self.tracer.candidates
        op_span.counts.update({
            "shared_build_s": sum(builds.values()),
            "emb_pairs_build_s": sum(v for k, v in builds.items()
                                     if k.startswith("emb_pairs_")),
            "cc_rounds": rounds,
            "lsh_candidates": sum(c.count() for c in cands),
            "pairs_verified": len(results["minhash_dedup_pairs"])})
        cands.clear()

    def _check(self, results: dict) -> str:
        pairs = results["minhash_dedup_pairs"]
        found = {(int(a), int(b)) for a, b in zip(pairs["id_a"], pairs["id_b"])}
        extra = found - self.exact_pairs
        if extra:
            return f"minhash pairs {sorted(extra)[:3]} are not Jaccard>=0.7"
        missing = [p for p in self.truth["identical_pairs"]
                   if tuple(p) not in found]
        if missing:
            return f"minhash missed identical pairs {missing[:3]}"
        for name in inputs.DEDUP_ORACLE_QUERIES:
            if inputs.digest_rows(results[name]) != self.truth["oracles"][name]:
                return f"{name} differs from oracle"
        return ""


def _run_query(tr, spark, name: str, sf_dir: str):
    with tr.span(f"query:{name}"):
        with tr.span("queries.build"):
            df = queries.QUERIES[name](spark, sf_dir)
        with tr.span("queries.exec"):
            return df.toPandas()


WORKLOADS = {w.name: w for w in (UsgsEtl, TpchMix, DedupCuration)}


def instrument(tracer) -> list:
    """Wrap the program functions called below the registry in spans
    (traced run only). Returns the patches so they can be undone."""
    seen: dict[int, object] = {}

    def table(spark, name, sf_dir=None):
        with tracer.span("io.table"):
            df = orig_table(spark, name, sf_dir)
            tracer.count("calls")
            tracer.count("reused", int(seen.get(id(df)) is df))
            seen[id(df)] = df
            return df

    def shared_parquet(spark, key, build):
        def counted_build():
            tracer.count("builds")
            return build()
        with tracer.span("cache.shared_parquet:" + key.split("_0.")[0]):
            tracer.count("calls")
            return orig_shared(spark, key, counted_build)

    def connected_components(*a, **kw):
        with tracer.span("operators.graph.connected_components"):
            return orig_cc(*a, **kw)

    def candidates(*a, **kw):
        cands = orig_cands(*a, **kw)
        tracer.candidates.append(cands)
        return cands

    orig_table, orig_shared = queries.table, cache.shared_parquet
    orig_cc, orig_cands = graph.connected_components, dedup._candidates_from_banded
    tracer.candidates = []
    patches = [(queries, "table", table), (cache, "shared_parquet", shared_parquet),
               (graph, "connected_components", connected_components),
               (dedup, "_candidates_from_banded", candidates)]
    undo = []
    for mod, attr, fn in patches:
        undo.append((mod, attr, getattr(mod, attr)))
        setattr(mod, attr, fn)
    return undo
