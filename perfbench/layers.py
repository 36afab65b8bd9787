"""Per-layer metrics of a traced run, derived from its spans, the counts
noted on them and the Spark task metrics attributed to them.

Values are per op (totals over the traced ops divided by their number)
unless the name says ratio, share or utilization. A layer a workload
does not touch reports 0.
"""

from __future__ import annotations

from collections import defaultdict

from spans import MB

#: name -> (unit, better), in the order BENCHMARK.json lists them.
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.get_spark_s": ("s", "lower"),
    "io.ensure_worker_imports_s": ("s", "lower"),
    "io.table.calls": ("count", "lower"),
    "io.table.driver_s": ("s", "lower"),
    "io.table.plan_reuse_ratio": ("ratio", "higher"),
    "io.scan_input_mb": ("MB", "lower"),
    "queries.build_s": ("s", "lower"),
    "queries.exec_s": ("s", "lower"),
    "sources.usgs.read_usgs_json.driver_s": ("s", "lower"),
    "sources.usgs.input_mb": ("MB", "lower"),
    "sources.usgs.records_out": ("count", "higher"),
    "pipeline.usgs.geojson_features.driver_s": ("s", "lower"),
    "pipeline.usgs.merge_sites.driver_s": ("s", "lower"),
    "pipeline.usgs.export_features.driver_s": ("s", "lower"),
    "pipeline.usgs.merge_sites.shuffle_write_mb": ("MB", "lower"),
    "pipeline.usgs.merge_sites.exchanges": ("count", "lower"),
    "sinks.write_stage.features_s": ("s", "lower"),
    "sinks.write_stage.joined_s": ("s", "lower"),
    "sinks.write_stage.export_s": ("s", "lower"),
    "sinks.write_stage.output_mb": ("MB", "lower"),
    "sinks.write_stage.files": ("count", "lower"),
    "sinks.bytes_out_per_in": ("ratio", "lower"),
    "sinks.export_feature_collection_json_s": ("s", "lower"),
    "operators.dedup.minhash_dedup_pairs_s": ("s", "lower"),
    "operators.dedup.lsh_candidates": ("count", "lower"),
    "operators.dedup.pairs_verified": ("count", "higher"),
    "operators.dedup.verify_yield": ("ratio", "higher"),
    "operators.graph.connected_components_s": ("s", "lower"),
    "operators.graph.cc_rounds": ("count", "lower"),
    "operators.similarity.embedding_dup_pairs_s": ("s", "lower"),
    "operators.similarity.python_exec_s": ("s", "lower"),
    "cache.shared_parquet.builds": ("count", "lower"),
    "cache.shared_parquet.build_s": ("s", "lower"),
    "cache.shared_parquet.reads_per_build": ("ratio", "higher"),
    "cache.release_caches.released": ("count", "higher"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.tasks_failed": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.cpu_utilization": ("ratio", "higher"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.gc_s": ("s", "lower"),
    "trace.peak_rss_mb": ("MB", "lower"),
    "trace.op_p50_s": ("s", "lower"),
    "trace.untraced_op_p50_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(spans, events: dict, n_ops: int, window_s: float,
                  cores: int, input_bytes: int) -> dict[str, float]:
    """Per-layer values (without the session / trace / rss entries,
    which the run measures itself)."""
    ops = max(n_ops, 1)
    by_id = {s.id: s for s in spans}
    dur = defaultdict(float)
    calls = defaultdict(int)
    counts = defaultdict(float)
    for s in spans:
        dur[s.name] += s.duration
        calls[s.name] += 1
        for k, v in s.counts.items():
            counts[f"{s.name}.{k}"] += v

    # Task metrics per span id -> rolled up to every ancestor span.
    subtree = defaultdict(lambda: defaultdict(float))
    for sid, m in events.items():
        if sid is None:
            continue
        node = by_id.get(int(sid))
        while node is not None:
            for k, v in m.items():
                subtree[node.id][k] += v
            node = by_id.get(node.parent)

    def spark_sum(name: str, key: str) -> float:
        """Metric summed over the subtrees of all spans called ``name``."""
        return sum(subtree[s.id].get(key, 0.0)
                   for s in spans if s.name == name)

    def per_op(x: float) -> float:
        return x / ops

    shared = [n for n in calls if n.startswith("cache.shared_parquet:")]
    shared_calls = sum(counts[f"{n}.calls"] for n in shared)
    shared_builds = sum(counts[f"{n}.builds"] for n in shared)
    cands = counts["op.lsh_candidates"]
    out = {
        "io.table.calls": per_op(calls["io.table"]),
        "io.table.driver_s": per_op(dur["io.table"]),
        "io.table.plan_reuse_ratio": _ratio(counts["io.table.reused"],
                                            counts["io.table.calls"]),
        "io.scan_input_mb": per_op(spark_sum("op", "input_mb")),
        "queries.build_s": per_op(dur["queries.build"]),
        "queries.exec_s": per_op(dur["queries.exec"]),
        "sources.usgs.read_usgs_json.driver_s":
            per_op(dur["sources.usgs.read_usgs_json"]),
        "sources.usgs.input_mb":
            input_bytes / MB if calls["sources.usgs.read_usgs_json"] else 0.0,
        "sources.usgs.records_out":
            per_op(spark_sum("sinks.write_stage.features", "records_written")),
        "pipeline.usgs.merge_sites.shuffle_write_mb":
            per_op(spark_sum("sinks.write_stage.joined", "shuffle_write_mb")),
        "pipeline.usgs.merge_sites.exchanges": per_op(counts["op.exchanges"]),
        "sinks.write_stage.output_mb": per_op(counts["op.output_bytes"]) / MB,
        "sinks.write_stage.files": per_op(counts["op.output_files"]),
        "sinks.bytes_out_per_in": _ratio(per_op(counts["op.output_bytes"]),
                                         input_bytes)
        if calls["sources.usgs.read_usgs_json"] else 0.0,
        "sinks.export_feature_collection_json_s":
            per_op(dur["sinks.export_feature_collection_json"]),
        "operators.dedup.minhash_dedup_pairs_s":
            per_op(dur["query:minhash_dedup_pairs"]),
        "operators.dedup.lsh_candidates": per_op(cands),
        "operators.dedup.pairs_verified": per_op(counts["op.pairs_verified"]),
        "operators.dedup.verify_yield":
            _ratio(counts["op.pairs_verified"], cands),
        "operators.graph.connected_components_s":
            per_op(dur["operators.graph.connected_components"]),
        "operators.graph.cc_rounds": per_op(counts["op.cc_rounds"]),
        "operators.similarity.embedding_dup_pairs_s":
            per_op(counts["op.emb_pairs_build_s"]),
        "operators.similarity.python_exec_s": per_op(sum(
            spark_sum(n, "executor_run_s") for n in shared
            if n.startswith("cache.shared_parquet:emb_pairs"))),
        "cache.shared_parquet.builds": per_op(shared_builds),
        "cache.shared_parquet.build_s": per_op(counts["op.shared_build_s"]),
        "cache.shared_parquet.reads_per_build": _ratio(shared_calls,
                                                       shared_builds),
        "cache.release_caches.released": per_op(counts["op.released"]),
    }
    for stage in ("features", "joined", "export"):
        out[f"sinks.write_stage.{stage}_s"] = per_op(
            dur[f"sinks.write_stage.{stage}"])
    for step in ("geojson_features", "merge_sites", "export_features"):
        out[f"pipeline.usgs.{step}.driver_s"] = per_op(
            dur[f"pipeline.usgs.{step}"])
    for key in ("jobs", "stages", "tasks", "tasks_failed", "executor_run_s",
                "executor_cpu_s", "shuffle_write_mb", "shuffle_read_mb",
                "spill_mb", "gc_s"):
        out[f"spark.{key}"] = per_op(spark_sum("op", key))
    out["spark.cpu_utilization"] = _ratio(
        spark_sum("op", "executor_cpu_s"), window_s * cores)

    return out
