#!/usr/bin/env python3
"""Steadiness check: run the benchmark once per seed, one run at a time,
and print each end-to-end metric's median and spread (inter-quartile
distance as a share of the median) next to its bound.

    python3 perfbench/steady.py --workload tpch_mix --seeds 1-10
    python3 perfbench/steady.py --workload usgs_etl --seeds 1-10 --sets 2

A metric is steady when its spread is below a third of its bound
(``setup_s`` is exempt from the spread rule, not from the median rule).
``op_p50_s*`` is the printed, ungated median latency, shown for
comparison.
With ``--sets 2`` a second set runs on the next seeds, its runs
alternating with the first's so that drift of the host hits both sets
alike, and the two sets' medians are compared against the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import spread  # noqa: E402


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(bench: dict, workload: str, seed: int, seconds: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"seed {seed}: exit {out.returncode}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    row = {k: v["value"] for k, v in res["metrics"].items()}
    for line in out.stdout.splitlines():   # printed, not in the JSON
        parts = line.split()
        if parts[:1] == ["op_p50_s"]:
            row["op_p50_s*"] = float(parts[1])
    print(f"seed {seed}: wall {wall:.1f}s correct={res['correct']} "
          f"failed={res['failed']}/{res['attempted']} "
          + " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
    return row


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seed_range, default=seed_range("1-10"))
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1,
                    help="2: a second set on the next seeds (1-10 -> "
                         "11-20), its runs alternating with the first's")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    sets: list[dict[str, list[float]]] = [{} for _ in range(args.sets)]
    offset = max(args.seeds) - min(args.seeds) + 1
    for i, seed in enumerate(args.seeds):
        order = range(args.sets) if i % 2 == 0 else reversed(range(args.sets))
        for k in order:
            row = run_once(bench, args.workload, seed + k * offset, seconds)
            for name, v in row.items():
                sets[k].setdefault(name, []).append(v)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, values in enumerate(sets):
        print(f"set {k + 1}: {'metric':<14} {'median':>10} {'spread':>8} "
              f"{'bound':>6}")
        for name, vs in values.items():
            sp = spread(vs) if len(vs) >= 2 else float("nan")
            b = bounds.get(name, float("nan"))
            flag = "" if name == "setup_s" or name not in bounds \
                or sp < b / 3 else "  <-- above bound/3"
            print(f"       {name:<14} {statistics.median(vs):>10.4g} "
                  f"{sp:>8.3f} {b:>6}{flag}")
    if args.sets == 2:
        print("median of set 2 vs set 1:")
        for name, vs in sets[0].items():
            m1, m2 = statistics.median(vs), statistics.median(sets[1][name])
            gap = abs(m2 - m1) / m1
            flag = "" if name not in bounds or gap <= bounds[name] else \
                "  <-- beyond bound"
            print(f"       {name:<14} {m1:>10.4g} {m2:>10.4g} {gap:>8.3f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
