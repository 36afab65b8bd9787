"""Driver-mirror dress rehearsal.

Runs registry queries at a given scale factor and compares each
against its DuckDB oracle with the driver's semantics (row count +
column-name set + order-insensitive canonical value multiset), using
the exact canonicalizer the test suite uses. Prints one status line
per query and a final ``BAD=[...]`` summary line.

Usage:
    python tools/dress_rehearsal.py                 # whole registry, sf0.01
    python tools/dress_rehearsal.py --names a b c   # specific queries
    python tools/dress_rehearsal.py --sf-dir /root/testdata/sf0.001
    python tools/dress_rehearsal.py --bare --corpus skew

``--corpus MODE`` (VERDICT r10 #7) folds the r9/r10 randomized-data
axes into named one-flag modes instead of per-round ad-hoc scripts.
Each mode generates (once, cached under /tmp/spark_graft_corpus/MODE;
``--corpus-rebuild`` regenerates) a fixture-schema corpus and points
the sweep at it:

  seed7 / seed13 / seed29 — randomized corpora with in-domain edge
      injections (ties, band boundaries, empty docs, bitmap-window
      edges), different seeds and prime-ish row counts;
  skew — the seed-7 corpus rewritten so ONE user owns ~70% of events
      and one (part, supplier) pair ~50% of lineitem (the r9
      heavy-skew axis: skew machinery must change plans, never
      answers);
  empty-slice — the seed-7 corpus with the purchase slice emptied
      and one lang collapsed away (a keyspace partition with zero
      rows is routine at 100 TB);
  unicode — seed-7 plus non-ASCII probe docs (TEXT lanes; the
      multimodal/normalized-hash families mismatch BY CONTRACT —
      see gen_random_corpus's ASCII-contract note);
  rg-layout — seed-7 written with 97-row parquet row groups, and the
      session's file-split confs forced tiny (maxPartitionBytes=64k,
      openCostInBytes=0) so every scan arrives as many input
      partitions: the r10 axis that exposed the double-sum
      merge-order class.
"""

from __future__ import annotations

import argparse
import sys
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

CORPUS_MODES = ("seed7", "seed13", "seed29", "skew", "empty-slice",
                "unicode", "rg-layout", "sf1ish")

#: sf1ish (VERDICT r10 #1): the ~10× scale probe for the HEAVY lanes.
#: Multipliers are chosen against the sf0.1 fixture row counts the
#: bench runs at: documents 601→~50k (10× sf0.1's 5k), embeddings
#: 577→~20k (10× of 2k), events 1499→1M (10× of 100k); the TPC-H
#: lanes ride at 10× the random-corpus base (lineitem ~73k — they are
#: not this probe's subject). Quadratic-closure DuckDB oracles will
#: not finish at this size — run with --oracle-timeout and cover the
#: timed-out families with tools/scale_invariants.py.
SF1ISH_SCALES = {"documents": 83.0, "embeddings": 35.0,
                 "events": 667.0}


def build_corpus(mode: str, out: str) -> None:
    """Materialize the named corpus mode under ``out`` (see module
    docstring). Derived modes (skew, empty-slice) generate the seed-7
    base into ``out``, then rewrite the affected tables in place via
    DuckDB COPY — the same schema-preserving rewrite the suite's
    empty-slice fixture uses (its arrow-schema pin guards the writer
    drift class)."""
    import duckdb

    from tools.gen_random_corpus import gen

    if mode in ("seed7", "seed13", "seed29"):
        gen(out, seed=int(mode.removeprefix("seed")))
        return
    if mode == "unicode":
        gen(out, seed=7, unicode_docs=True)
        return
    if mode == "rg-layout":
        gen(out, seed=7, row_group_rows=97)
        return
    if mode == "sf1ish":
        # multi-row-group files too: at this size single-row-group
        # parquet would serialize every scan into one task
        gen(out, seed=7, scale=10.0, scales=SF1ISH_SCALES,
            row_group_rows=50_000)
        return
    gen(out, seed=7)
    con = duckdb.connect()
    if mode == "empty-slice":
        # mirror tests/test_random_corpus.py::empty_slice_sf_dir
        rewrites = {
            "events": """SELECT event_id, ts, user_id,
                CASE WHEN event_type = 'purchase' THEN 'view'
                     ELSE event_type END AS event_type, value, props
                FROM '{out}/events.parquet'""",
            "documents": """SELECT doc_id, text,
                CASE WHEN lang = 'zh' THEN 'en' ELSE lang END AS lang,
                source, n_chars FROM '{out}/documents.parquet'""",
        }
    elif mode == "skew":
        # ONE user owns ~70% of events; one EXISTING (part, supplier)
        # pair takes ~50% of lineitem (FK integrity preserved — the
        # pair is the min keys of the dim tables). Deterministic:
        # keyed on event_id / l_orderkey parity, no RNG.
        rewrites = {
            "events": """SELECT event_id, ts,
                CASE WHEN event_id % 10 < 7
                     THEN (SELECT min(user_id)
                           FROM '{out}/events.parquet')
                     ELSE user_id END AS user_id,
                event_type, value, props FROM '{out}/events.parquet'""",
            "lineitem": """SELECT * REPLACE (
                CASE WHEN l_orderkey % 2 = 0
                     THEN (SELECT min(p_partkey)
                           FROM '{out}/part.parquet')
                     ELSE l_partkey END AS l_partkey,
                CASE WHEN l_orderkey % 2 = 0
                     THEN (SELECT min(s_suppkey)
                           FROM '{out}/supplier.parquet')
                     ELSE l_suppkey END AS l_suppkey)
                FROM '{out}/lineitem.parquet'""",
        }
    else:
        raise ValueError(f"unknown corpus mode {mode!r}")
    for t, sql in rewrites.items():
        tmp = f"{out}/{t}.rewrite.parquet"
        con.execute(f"COPY ({sql.format(out=out)}) TO '{tmp}' "
                    "(FORMAT PARQUET)")
        import os as _os
        _os.replace(tmp, f"{out}/{t}.parquet")
    con.close()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--names", nargs="*", default=None)
    ap.add_argument("--bare", action="store_true",
                    help="plain SparkSession (no repo confs) — catches "
                         "missing-conf / worker-unpickling failures that "
                         "get_spark masks, as a host-built session "
                         "would")
    ap.add_argument("--master", default="local[*]",
                    help="bare-session master override (e.g. local[5]) "
                         "— partition-LAYOUT sensitivity sweeps: every "
                         "oracled query must stay exact under any "
                         "parallelism (the r6 cumsum bug class)")
    ap.add_argument("--conf", nargs="*", default=[],
                    help="extra bare-session k=v confs (e.g. "
                         "spark.sql.shuffle.partitions=13)")
    ap.add_argument("--fault-inject", action="store_true",
                    help="task-retry invariance sweep (VERDICT r8 #4):"
                         " wrap every io.table scan so each task's "
                         "FIRST attempt fails and is retried; pass a "
                         "fault-tolerant master too, e.g. --master "
                         "'local[8,4]' (maxFailures=4) or every job "
                         "dies on the injected failure")
    ap.add_argument("--corpus", default=None, choices=CORPUS_MODES,
                    help="run against a named randomized-corpus mode "
                         "(generated once under /tmp/spark_graft_corpus"
                         "/MODE; overrides --sf-dir; rg-layout also "
                         "forces tiny file-split confs on the session)")
    ap.add_argument("--corpus-rebuild", action="store_true",
                    help="regenerate the --corpus directory even if "
                         "it already exists (use after changing "
                         "gen_random_corpus.py)")
    ap.add_argument("--oracle-timeout", type=float, default=None,
                    help="seconds before a DuckDB oracle is "
                         "interrupted; the query is then recorded as "
                         "ORACLE_TIMEOUT (Spark wall time + row count "
                         "only, NOT a failure). The sf1ish scale "
                         "probe uses this: quadratic-closure oracles "
                         "cannot finish at 10×, and the timed-out "
                         "families are covered by "
                         "tools/scale_invariants.py instead")
    ap.add_argument("--no-oracle-cache", action="store_true",
                    help="re-run every DuckDB oracle even when a "
                         "cached result exists for this exact "
                         "(oracle SQL, corpus fingerprint) — the "
                         "cache key changes whenever the SQL or any "
                         "table parquet (size/mtime) changes, so the "
                         "default-on cache can only ever replay an "
                         "answer for identical inputs")
    ap.add_argument("--checkpoint-dir", default=None,
                    help="SparkContext.setCheckpointDir path — flips "
                         "cache.checkpoint_leaf to the RELIABLE "
                         "DataFrame.checkpoint path (the 100 TB "
                         "cluster mode), exercising checkpoint-file "
                         "write/read instead of local blocks")
    args = ap.parse_args()

    import os

    if args.corpus:
        cdir = f"/tmp/spark_graft_corpus/{args.corpus}"
        if args.corpus_rebuild or not os.path.isdir(cdir):
            import shutil
            shutil.rmtree(cdir, ignore_errors=True)
            print(f"building corpus mode {args.corpus!r} -> {cdir}",
                  flush=True)
            build_corpus(args.corpus, cdir)
        args.sf_dir = cdir

    if args.fault_inject:
        from map_reduce_mongodb_spark.io import FAULT_INJECT_ENV
        os.environ[FAULT_INJECT_ENV] = "1"
        if args.master == "local[*]":
            # default master has maxFailures=1 — injected failures
            # would kill every job instead of exercising retries
            args.master = "local[8,4]"

    import duckdb

    from map_reduce_mongodb_spark.io import TABLE_NAMES
    from map_reduce_mongodb_spark.queries import ORACLE_SQL, QUERIES
    from map_reduce_mongodb_spark.session import get_spark
    from tests.conftest import canonical_rows

    names = list(args.names) if args.names else list(QUERIES)

    def build_session():
        if args.bare:
            from pyspark.sql import SparkSession
            b = (SparkSession.builder.appName("dress-rehearsal-bare")
                 .master(args.master)
                 .config("spark.ui.enabled", "false")
                 .config("spark.ui.showConsoleProgress", "false"))
            for kv in args.conf:
                k, _, v = kv.partition("=")
                b = b.config(k, v)
            s = b.getOrCreate()
        else:
            # honor --master (and the --fault-inject auto-upgrade to
            # a maxFailures>1 master) in the repo-conf path too —
            # without this, --fault-inject without --bare got a
            # maxFailures=1 session and every injected attempt-0
            # failure was fatal
            s = get_spark(app_name="dress-rehearsal",
                          master=(args.master
                                  if args.master != "local[*]" else None))
        if args.checkpoint_dir:
            # flips cache.checkpoint_leaf's auto-switch to reliable
            # DataFrame.checkpoint (files under this dir; delete the
            # dir after the sweep — the cleanCheckpoints conf is
            # creation-time-only, not runtime-settable)
            s.sparkContext.setCheckpointDir(args.checkpoint_dir)
        if args.corpus == "rg-layout":
            # one slice per 97-row row group: without BOTH confs Spark
            # folds small files back into one split (padded open cost
            # — NOTES_r10 trap list); runtime-settable, so applied in
            # both the bare and repo-conf session paths
            s.conf.set("spark.sql.files.maxPartitionBytes", "65536")
            s.conf.set("spark.sql.files.openCostInBytes", "0")
        return s

    spark = build_session()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

    from tools import oracle_cache
    corpus_fp = oracle_cache.corpus_fingerprint(args.sf_dir)

    class OracleTimeout(Exception):
        pass

    def run_oracle(sql: str):
        import threading

        timer = None
        if args.oracle_timeout:
            timer = threading.Timer(args.oracle_timeout, con.interrupt)
            timer.start()
        try:
            if args.no_oracle_cache:
                return con.execute(sql).fetchdf()
            return oracle_cache.fetch(con, sql, args.sf_dir,
                                      fingerprint=corpus_fp)
        except duckdb.InterruptException as e:
            raise OracleTimeout(str(e)) from e
        finally:
            if timer is not None:
                timer.cancel()

    bad: list[str] = []
    for i, name in enumerate(names, 1):
        t0 = time.time()
        try:
            got = QUERIES[name](spark, args.sf_dir).toPandas()
            if name not in ORACLE_SQL:
                status = f"ROWS_ONLY rows={len(got)}"
            else:
                try:
                    want = run_oracle(ORACLE_SQL[name])
                except OracleTimeout:
                    print(f"[{i}/{len(names)}] {name}: ORACLE_TIMEOUT "
                          f"rows={len(got)} "
                          f"({time.time() - t0:.1f}s)", flush=True)
                    continue
                if sorted(got.columns) != sorted(want.columns):
                    status = (f"SCHEMA_MISMATCH spark={sorted(got.columns)}"
                              f" duckdb={sorted(want.columns)}")
                    bad.append(name)
                elif len(got) != len(want):
                    status = f"ROWS_MISMATCH spark={len(got)} duckdb={len(want)}"
                    bad.append(name)
                else:
                    g, w = canonical_rows(got), canonical_rows(want)
                    if g == w:
                        status = f"OK rows={len(got)}"
                    else:
                        only_g = list((g - w).elements())[:2]
                        only_w = list((w - g).elements())[:2]
                        status = (f"HASH_MISMATCH only_spark={only_g}"
                                  f" only_duckdb={only_w}")
                        bad.append(name)
        except Exception:
            status = "ERROR\n" + traceback.format_exc(limit=8)
            bad.append(name)
            # A fatal executor error (an OOM under a pathological
            # sweep config, say) kills the local SparkContext; every
            # later query would then ERROR on the corpse and the
            # sweep verdict would be unreadable (the first forced-
            # spill sweep lost 120 queries this way). Detect the dead
            # context, drop session-bound cache state (the shared
            # materializations hold DataFrames of the dead session),
            # and rebuild so the sweep keeps diagnosing per-query.
            try:
                dead = spark.sparkContext._jsc.sc().isStopped()
            except Exception:
                dead = True
            if dead:
                from map_reduce_mongodb_spark import cache
                try:
                    cache.release_caches()
                except Exception:
                    pass
                cache._LIVE.clear()
                cache._LEAVES.clear()
                cache.clear_shared()
                try:
                    spark.stop()  # clears the instantiated session
                except Exception:
                    pass
                spark = build_session()
                print(f"[{i}/{len(names)}] {name}: SparkContext died "
                      "— session rebuilt for the remaining queries",
                      flush=True)
        print(f"[{i}/{len(names)}] {name}: {status} "
              f"({time.time() - t0:.1f}s)", flush=True)

    print(f"BAD={bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
