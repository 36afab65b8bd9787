"""Tests of the benchmark itself (no Spark session is started).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import inputs  # noqa: E402
import layers  # noqa: E402
import proc  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

SMALL_USGS = {"sites_per_state": 3, "values_per_series": 2}
SMALL_CORPUS = {"scale": 1.0, "documents": 0.5, "embeddings": 0.2}


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _match, mismatch, errors = filecmp.cmpfiles(
        a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d))
        for d in cmp.common_dirs)


@pytest.mark.parametrize("kind,size", [("usgs", SMALL_USGS),
                                       ("corpus", SMALL_CORPUS)])
def test_same_seed_gives_identical_inputs_and_truth(tmp_path, kind, size):
    d1, t1, _ = inputs.ensure(str(tmp_path / "a"), kind, 5, size, ROOT)
    d2, t2, _ = inputs.ensure(str(tmp_path / "b"), kind, 5, size, ROOT)
    assert _same_tree(d1, d2)
    assert t1 == t2
    d3, t3, _ = inputs.ensure(str(tmp_path / "c"), kind, 6, size, ROOT)
    assert not _same_tree(os.path.join(d1, "data"), os.path.join(d3, "data"))


def test_cached_inputs_are_reused(tmp_path):
    _d, t1, gen_s = inputs.ensure(str(tmp_path), "usgs", 1, SMALL_USGS, ROOT)
    _d, t2, again_s = inputs.ensure(str(tmp_path), "usgs", 1, SMALL_USGS, ROOT)
    assert gen_s > 0 and again_s == 0 and t1 == t2


def test_changed_oracle_text_gives_a_new_cache_entry(monkeypatch):
    from map_reduce_mongodb_spark import queries
    before = inputs.cache_dir("/c", "corpus", 1, SMALL_CORPUS, ROOT)
    assert before == inputs.cache_dir("/c", "corpus", 1, SMALL_CORPUS, ROOT)
    name = inputs.SQL_ORACLE_QUERIES[0]
    monkeypatch.setitem(queries.ORACLE_SQL, name,
                        queries.ORACLE_SQL[name] + " ")
    assert inputs.cache_dir("/c", "corpus", 1, SMALL_CORPUS, ROOT) != before


def test_usgs_truth_follows_merge_rule():
    site = {"code": "01000001", "name": "A RIVER", "lat": 40.0, "lon": -100.0}

    def series(code, method, value, empty=False):
        readings = [] if empty else [{"value": value,
                                      "dateTime": "2024-03-01T00:00"}]
        return {"name": f"USGS:{site['code']}:{code}:{method:05d}",
                "variable": {"variableCode": [{"value": code}]},
                "values": [{"value": readings}]}

    got = inputs._expected_feature(site, [
        series("00065", 1, "9.0"), series("00065", 0, ""),
        series("00060", 0, "x", empty=True), series("00060", 1, "2.5")])
    props = got["properties"]
    assert props["streamFlow"]["value"] == "undefined"   # method 0, falsy
    assert props["gageHeight"]["value"] == "2.5"         # 0 had no reading
    assert inputs._expected_feature(site, [series("00065", 0, "1")]) is None


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail([1.0] * 50) is None            # nothing lies beyond
    assert stats.tail(list(range(1, 60))) is None    # p90 has 5 beyond
    p, v, beyond = stats.tail([float(x) for x in range(1, 101)])
    assert (p, v, beyond) == (90.0, 90.0, 10)
    p, v, beyond = stats.tail([float(x) for x in range(1, 1001)])
    assert (p, v, beyond) == (99.0, 990.0, 10)


def test_spread_is_iqr_over_median():
    assert stats.spread([10.0] * 10) == 0.0
    assert stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5)


def _span(sid, parent, start, end, name="s"):
    s = spans.Span(sid, name, 0, parent, start)
    s.end = end
    return s


def test_self_time_subtracts_merged_children():
    tree = [_span(0, None, 0.0, 10.0),
            _span(1, 0, 1.0, 4.0), _span(2, 0, 3.0, 5.0),   # overlap: 1-5
            _span(3, 0, 9.0, 12.0),                          # clipped: 9-10
            _span(4, 1, 1.5, 2.0)]
    got = spans.self_times(tree)
    assert got[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got[1] == pytest.approx(3.0 - 0.5)
    assert got[2] == pytest.approx(2.0)
    assert got[4] == pytest.approx(0.5)


def test_tracer_nests_spans_under_one_op():
    tr = spans.Tracer()
    tr.op = 7
    with tr.span("op"):
        with tr.span("io.table"):
            tr.count("calls")
            tr.count("calls")
    op, child = tr.spans
    assert child.parent == op.id and op.parent is None
    assert op.op == child.op == 7
    assert child.counts == {"calls": 2}


def test_event_log_attributes_tasks_to_spans(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {spans.SPAN_PROPERTY: "3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 1500,
                          "Executor CPU Time": 10 ** 9,
                          "Shuffle Write Metrics": {
                              "Shuffle Bytes Written": spans.MB}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
    ]
    (tmp_path / "app-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    got = spans.read_event_log(str(tmp_path))
    assert got["3"]["tasks"] == 1 and got["3"]["stages"] == 1
    assert got["3"]["executor_run_s"] == 1.5
    assert got["3"]["executor_cpu_s"] == 1.0
    assert got["3"]["shuffle_write_mb"] == 1.0
    assert got[None]["jobs"] == 1


def test_layer_metrics_cover_the_catalog():
    tr = spans.Tracer()
    with tr.span("op"):
        with tr.span("io.table"):
            tr.count("calls")
            tr.count("reused", 1)
    got = layers.layer_metrics(tr.spans, {"0": {"tasks": 4.0}}, 1, 1.0, 4, 0)
    run_measured = {"session.get_spark_s", "io.ensure_worker_imports_s",
                    "trace.peak_rss_mb", "trace.op_p50_s",
                    "trace.untraced_op_p50_s", "trace.overhead_s"}
    assert set(got) | run_measured == set(layers.PER_LAYER)
    assert got["io.table.plan_reuse_ratio"] == 1.0
    assert got["spark.tasks"] == 4.0


def test_tree_cpu_counts_this_process_and_reaped_children():
    c0 = proc.tree_cpu_s()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    assert proc.tree_cpu_s() - c0 >= 0.5


def test_benchmark_json_matches_the_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"])
            for m in bench["per_layer"]} == layers.PER_LAYER
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))


# -- a wrong output is a failed op -------------------------------------

def test_wrong_query_result_fails_its_op(monkeypatch):
    good = pd.DataFrame({"k": ["a", "b"], "v": [1.5, 2.0]})
    truth = {"oracles": {"q1_x": inputs.digest_rows(good)}}
    wl = workloads.TpchMix(None, "/in", truth, "/work", 0, spans.NullTracer())
    wl.names = ["q1_x"]
    results = iter([good.iloc[::-1], good.assign(v=[1.5, 2.5])])
    monkeypatch.setattr(workloads, "_run_query",
                        lambda tr, spark, name, sf_dir: next(results))
    assert wl.run_op(0).ok                # row order does not matter
    bad = wl.run_op(1)
    assert not bad.ok and "q1_x" in bad.error


def test_dedup_check_rejects_wrong_outputs():
    frames = {n: pd.DataFrame({"x": [1]})
              for n in inputs.DEDUP_ORACLE_QUERIES}
    truth = {"counts": {"documents": 10, "embeddings": 5},
             "jaccard_pairs": [[7, 8], [7, 9]], "identical_pairs": [[7, 9]],
             "oracles": {n: inputs.digest_rows(f) for n, f in frames.items()}}
    wl = workloads.DedupCuration(None, "/in", truth, "/work", 0,
                                 spans.NullTracer())

    def check(**kw):
        return wl._check({**frames, **kw})

    pairs = pd.DataFrame({"id_a": [7], "id_b": [9], "jaccard": [1.0]})
    assert check(minhash_dedup_pairs=pairs) == ""
    extra = pd.DataFrame({"id_a": [7, 1], "id_b": [9, 2], "jaccard": [1, .9]})
    assert "not Jaccard" in check(minhash_dedup_pairs=extra)
    missing = pd.DataFrame({"id_a": [7], "id_b": [8], "jaccard": [0.98]})
    assert "missed" in check(minhash_dedup_pairs=missing)
    assert "dedup_survivors" in check(minhash_dedup_pairs=pairs,
                                      dedup_survivors=pd.DataFrame({"x": [2]}))


def test_raising_op_counts_as_failed():
    class Boom:
        tracer = spans.NullTracer()

        def run_op(self, i):
            raise RuntimeError("engine down")
    results, _wall = run.closed_loop(Boom(), 0.0)
    assert len(results) == 1 and not results[0].ok
