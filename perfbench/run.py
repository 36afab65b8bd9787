#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload usgs_etl --seed 1 --seconds 15 --trace 0

Workloads: ``usgs_etl``, ``tpch_mix``, ``dedup_curation`` (see
perfbench/README.md). The run generates (or reuses) the seeded inputs,
sets up the engine, runs the warm-up ops, then runs ops back to back
for ``--seconds`` and checks every op's output; then it sets up once
more in a new JVM, as ``setup_s`` is the median of the set-ups.
Human-readable
lines come first; the last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
workload untraced, then again in a fresh JVM with spans and the Spark
event log, and reports the per-layer metrics and the tracing overhead;
the spans are written to ``.perfbench/traces/``.

Everything the run writes stays under ``<checkout>/.perfbench/``, except
the package zip that ``io.ensure_worker_imports`` writes to /tmp; the
run deletes that zip when it ends.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

from proc import descendants, host_cpu_ticks, tree_peak_rss_mb  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOAD_NAMES = ("usgs_etl", "tpch_mix", "dedup_curation")
#: Set-ups per run, each in a new JVM (the program import is timed
#: once); setup_s is their median.
SETUPS = 2
END_TO_END = {"setup_s": "s", "op_cpu_p50_s": "s"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str) -> int:
    """Point every temp/scratch location at ``run_dir`` before Spark
    starts; return the core count for ``local[N]``."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        # spark-submit's launcher JVM: no /tmp/hsperfdata_* files
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": str(cores),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    tempfile.tempdir = tmp
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    return cores


def spark_conf(run_dir: str, event_log_dir: str | None) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={run_dir}/derby -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def setup(run_dir: str, event_log_dir: str | None = None):
    """Session up and package shipped to workers. Returns the session
    and the seconds each step took."""
    from map_reduce_mongodb_spark import io as program_io
    from map_reduce_mongodb_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench",
                      extra_conf=spark_conf(run_dir, event_log_dir))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    program_io.ensure_worker_imports(spark)
    return spark, {"session.get_spark_s": t1 - t0,
                   "io.ensure_worker_imports_s": time.perf_counter() - t1}


def warm_up(wl_cls, spark, data_dir, truth, run_dir, seed):
    """The workload's warm-up ops (cold JIT and code generation), run
    before the timed window. Returns the workload, the seconds taken
    and the ops' results (checked like every other op)."""
    from spans import NullTracer
    t0 = time.perf_counter()
    wl = wl_cls(spark, data_dir, truth, run_dir, seed, NullTracer())
    warm = [run_op(wl, -1 - k) for k in range(wl.warm_up_ops)]
    return wl, time.perf_counter() - t0, warm


def run_op(wl, i):
    from workloads import OpResult
    wl.tracer.op = i
    t0 = time.perf_counter()
    try:
        return wl.run_op(i)
    except Exception:  # an op that raises is a failed op, not a crash
        traceback.print_exc(file=sys.stderr)
        return OpResult(time.perf_counter() - t0, False, error="raised")


def closed_loop(wl, seconds: float):
    """One client: each op starts when the previous one has finished
    and been checked. Returns (results, wall seconds)."""
    results = []
    t0 = time.perf_counter()
    while not results or time.perf_counter() - t0 < seconds:
        results.append(run_op(wl, len(results)))
    return results, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    one started has exited."""
    from pyspark import SparkContext
    pids = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 15
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def fmt(name: str, value, unit: str = "", note: str = "") -> str:
    v = f"{value:.6g}" if isinstance(value, float) else str(value)
    return f"  {name:<44} {v:>12} {unit:<6} {note}".rstrip()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "map_reduce_mongodb_spark"))
            and os.path.isfile(os.path.join(ROOT, "tools",
                                            "gen_random_corpus.py"))):
        print("perfbench: the program (map_reduce_mongodb_spark/, tools/) "
              f"is not in {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    try:
        return _main(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        # the package zip io.ensure_worker_imports ships to workers
        try:
            os.remove(f"/tmp/mrms_pkg_{os.getpid()}.zip")
        except OSError:
            pass


def _main(args, run_dir: str) -> int:
    cores = isolate(run_dir)
    import inputs  # noqa: F401  (program imports count as set-up)
    from workloads import WORKLOADS
    import_s = time.perf_counter() - T_START

    wl_cls = WORKLOADS[args.workload]
    data_dir, truth, gen_s = inputs.ensure(
        STATE, wl_cls.input_kind, args.seed, wl_cls.input_size, ROOT)

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace} cores={cores}")
    print(fmt("input_gen_s (not a metric)", gen_s, "s",
              "0 = cached" if gen_s == 0 else ""))
    if args.trace:
        return traced(args, wl_cls, data_dir, truth, run_dir, cores)

    spark, steps = setup(run_dir)
    setups = [import_s + sum(steps.values())]
    wl, warm_s, warm = warm_up(wl_cls, spark, data_dir, truth, run_dir,
                               args.seed)
    host0 = host_cpu_ticks()
    results, wall = closed_loop(wl, args.seconds)
    host = [b - a for a, b in zip(host0, host_cpu_ticks())]
    peak_rss = tree_peak_rss_mb()
    stop_spark(spark)
    for _ in range(SETUPS - 1):   # each with a new JVM, after the window
        spark, steps = setup(run_dir)
        setups.append(import_s + sum(steps.values()))
        stop_spark(spark)

    all_ops = warm + results
    failed = [r for r in all_ops if not r.ok]
    lat = [r.latency_s for r in results]
    cpu = [r.cpu_s for r in results]
    metrics = {
        "setup_s": statistics.median(setups),
        "op_cpu_p50_s": statistics.median(cpu),
    }
    print(fmt("setup_s", metrics["setup_s"], "s",
              f"median of {len(setups)}: "
              + ", ".join(f"{s:.3f}" for s in setups)))
    print(fmt("warm-up (not a metric)", warm_s, "s",
              f"{len(warm)} ops, s (CPU s): " + " ".join(
                  f"{r.latency_s:.2f} ({r.cpu_s:.2f})" for r in warm)))
    report_latency(lat, results, wall)
    print(fmt("op_cpu_p50_s", metrics["op_cpu_p50_s"], "s",
              "process tree: Python driver, driver JVM, Python workers"))
    print("  op CPU (s): " + " ".join(f"{x:.2f}" for x in cpu[:40])
          + (" ..." if len(cpu) > 40 else ""))
    print(fmt("host steal share (not a metric)", host[7] / sum(host), "",
              "of all host CPU time in the window"))
    print(fmt("failed_op_share", len(failed) / len(all_ops), "",
              f"{len(failed)} of {len(all_ops)} ops (incl. warm-up)"))
    for r in failed[:5]:
        print(f"  failed op: {r.error}")
    print(fmt("peak_rss_mb", peak_rss, "MB", "(not a driver metric: "
              "its spread over seeds exceeds any bound)"))
    print(json.dumps({
        "correct": not failed, "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": END_TO_END[k]}
                    for k, v in metrics.items()}}))
    return 0


def report_latency(lat, results, wall) -> None:
    """Wall-clock figures, printed but not in the JSON: with the host's
    other guests they spread more than any bound allows (README)."""
    import stats
    print(fmt("op_p50_s", statistics.median(lat), "s", f"n={len(lat)}"))
    print("  op latencies (s): " + " ".join(f"{x:.3f}" for x in lat[:40])
          + (" ..." if len(lat) > 40 else ""))
    t = stats.tail(lat)
    if t is None:
        print(f"  op_p90_s: omitted, fewer than {stats.MIN_BEYOND} samples "
              f"beyond any tail percentile (n={len(lat)})")
    else:
        p, v, beyond = t
        print(fmt(f"op_p{p:g}_s", v, "s", f"{beyond} samples beyond"))
    print(fmt("ops_per_s", len(results) / wall, "1/s",
              f"{len(results)} ops in {wall:.3f} s"))
    n_queries = sum(r.queries for r in results)
    if n_queries:
        print(fmt("queries_per_s", n_queries / wall, "1/s"))
    n_records = sum(r.records for r in results)
    if n_records:
        print(fmt("records_per_s", n_records / wall, "1/s"))


def traced(args, wl_cls, data_dir, truth, run_dir, cores) -> int:
    """Untraced phase, then a traced phase in a new JVM with the event
    log on; per-layer metrics come from the traced phase, the tracing
    overhead from the two phases' median op latencies."""
    import layers
    import spans
    import workloads

    spark, steps = setup(run_dir)
    wl, _s, warm = warm_up(wl_cls, spark, data_dir, truth, run_dir, args.seed)
    untraced, _ = closed_loop(wl, args.seconds)
    stop_spark(spark)   # a fresh JVM, so both phases start equally cold

    log_dir = os.path.join(run_dir, "eventlog")
    spark, _steps = setup(run_dir, event_log_dir=log_dir)
    wl, _s, warm2 = warm_up(wl_cls, spark, data_dir, truth, run_dir,
                            args.seed)
    tracer = spans.Tracer(spark.sparkContext)
    undo = workloads.instrument(tracer)
    wl.tracer = tracer
    results, wall = closed_loop(wl, args.seconds)
    for mod, attr, fn in undo:
        setattr(mod, attr, fn)
    peak_rss = tree_peak_rss_mb()
    stop_spark(spark)
    events = spans.read_event_log(log_dir)

    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    span_path = os.path.join(STATE, "traces",
                             f"{args.workload}-seed{args.seed}.json")
    spans.write_spans(span_path, tracer.spans)

    metrics = layers.layer_metrics(
        tracer.spans, events, len(results), wall, cores,
        truth.get("input_bytes", 0))
    p50_traced = statistics.median(r.latency_s for r in results)
    p50_untraced = statistics.median(r.latency_s for r in untraced)
    metrics.update({
        "session.get_spark_s": steps["session.get_spark_s"],
        "io.ensure_worker_imports_s": steps["io.ensure_worker_imports_s"],
        "trace.peak_rss_mb": peak_rss,
        "trace.op_p50_s": p50_traced,
        "trace.untraced_op_p50_s": p50_untraced,
        "trace.overhead_s": p50_traced - p50_untraced,
    })
    all_ops = warm + untraced + warm2 + results
    failed = [r for r in all_ops if not r.ok]
    for name, (unit, _better) in layers.PER_LAYER.items():
        print(fmt(name, metrics[name], unit))
    print_self_times(tracer.spans, len(results))
    untagged = events.get(None, {}).get("jobs", 0)
    print(f"  spans: {len(tracer.spans)} written to {span_path}; "
          f"Spark jobs outside any span: {untagged:g}")
    for r in failed[:5]:
        print(f"  failed op: {r.error}")
    print(json.dumps({
        "correct": not failed, "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, (u, _b) in layers.PER_LAYER.items()}}))
    return 0


def print_self_times(span_list, n_ops: int) -> None:
    from collections import defaultdict
    from spans import self_times
    selfs = self_times(span_list)
    by_name = defaultdict(float)
    for s in span_list:
        by_name[s.name] += selfs[s.id]
    print("  self time per op, by span:")
    for name, v in sorted(by_name.items(), key=lambda kv: -kv[1]):
        print(fmt("  " + name, v / max(n_ops, 1), "s"))


if __name__ == "__main__":
    sys.exit(main())
