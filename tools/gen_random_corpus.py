"""Randomized-data corpus generator for the data-variation sweep.

Every invariance sweep before r9 varied CONFIGURATION over the same
driver fixtures; this tool varies the DATA. It writes a corpus with
the exact fixture schemas (same column names, same arrow types) but a
different seed, different (prime-ish) row counts, and deliberate
in-domain edge injections — the "one data change away from red"
class the r9 catalog review kept finding (`user_activity_bitmap`'s
mod-64 shift wrap, the wordcount `''`-group, tie-order determinism):

- exact ties: duplicate (user_id, ts) event rows, equal event values,
  equal order totals / line prices — stresses deterministic
  tie-breaking in every top-k / first-per-group / asof operator
  (an engine-arbitrary tie order is a REAL bug: two cluster runs of
  the same query would disagree with each other);
- boundary values: c_acctbal exactly 0 / 5000 (the l-diversity band
  edges), l_discount 0, l_quantity at both generator bounds,
  midnight-exact and microsecond-adjacent timestamps;
- events OUTSIDE the 64-day bitmap window and at its exact edges
  (day 0, day 63, day 64) — the exclusion-vs-wraparound contract;
- documents: empty string, whitespace-only, single-word, one word
  repeated, exact duplicates, a near-duplicate pair, a 2000-word
  giant (plus, under ``--unicode`` only, non-ASCII probe docs);
- embeddings: exact-duplicate vectors, a near-duplicate pair, a
  tiny-norm (1e-6 scale) vector — float paths must still be
  bit-identical because both engines run the same IEEE ops in the
  same index order (the cross-engine dot-product contract);
- one user owns ~20% of events and one part ~5% of lineitem — skew
  without changing any semantics.

Deliberately NOT injected (out of the fixtures' data contract, would
create adjudication noise rather than findings): NULLs (the driver
generator emits none), zero-norm embeddings (cosine undefined),
orphan foreign keys (TPC-H referential integrity holds), dates
before 1992-01-01 (the Theil-Sen epoch), and — by default —
non-ASCII text. The corpus has a DOCUMENTED pure-ASCII contract
(tests/test_multimodal.py::test_corpus_is_pure_ascii), whose one
remaining dependent (r11) is the ``lower()`` family — normalized-md5
dedup relies on the engines' lower() agreeing, which full-vs-simple
Unicode case mapping breaks ('İ': Spark/JDK → two codepoints,
DuckDB/utf8proc → one). The multimodal oracles are NO LONGER bound
by it: payloads derive from md5(text) hex (r11, VERDICT r10 #5), so
that family certifies under ``--unicode`` too. ``--unicode`` re-adds
the non-ASCII probe docs; expect only the lower()-based
normalized-hash dedup queries to mismatch BY CONTRACT there.

Usage:
    python tools/gen_random_corpus.py --out /tmp/randsf --seed 7
    python tools/dress_rehearsal.py --bare --sf-dir /tmp/randsf
"""

from __future__ import annotations

import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("the a spark data table row column key value join merge sort "
         "filter group agg window batch stream query scan hash part "
         "order line customer small big fast slow dup vector").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
              "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PNAME_ADJ = ["cold", "small", "large", "shiny", "dull", "quick"]
PNAME_NOUN = ["widget", "bolt", "gear", "cog", "valve"]

# Non-ASCII in-domain-ish sentences: engines must agree on UTF-8
# lengths, splits, and hashes.
UNICODE_DOCS = [
    "naïve café résumé coöperate Zürich groß straße",
    "数据 表 查询 连接 排序 窗口 流 批 处理 引擎",
    "emoji 🚀 stream 🔥 join 🎯 sort 🧪 batch",
    "İstanbul ırmak ılık işlem sığ dağ",  # Turkish dotted/dotless i
]


def _ts_us(values: list[dt.datetime]) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def gen(out: str, seed: int, unicode_docs: bool = False,
        row_group_rows: int | None = None,
        scale: float = 1.0,
        scales: dict[str, float] | None = None) -> dict[str, int]:
    """``scale`` multiplies every fact/dim row count (region/nation
    stay 5/25 — queries treat that shape as the TPC-H contract);
    ``scales`` overrides the multiplier per table name. The sf≈1
    scale probe (VERDICT r10 #1) uses this to grow the HEAVY-lane
    tables (documents/embeddings/events) to ~10× their sf0.1 row
    counts while keeping the TPC-H lanes modest — all edge injections
    sit at fixed low indices, so they survive any scale ≥ 1."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    counts: dict[str, int] = {}

    def _s(name: str) -> float:
        return (scales or {}).get(name, scale)

    def write(name: str, table: pa.Table) -> None:
        # row_group_rows: FILE-LAYOUT invariance axis. The fixture
        # files are single-row-group, so Spark scans each table as ONE
        # input split regardless of maxPartitionBytes (splits land on
        # row-group boundaries); at 100 TB every table is millions of
        # row groups and every scan is thousands of partitions. Tiny
        # row groups make the same DATA arrive as many splits — group
        # boundaries under applyInPandas, per-partition seeds, and
        # nested-loop parallelism must not change any answer. DuckDB
        # reads the same file, so oracles need no plumbing.
        kw = {}
        if row_group_rows:
            kw["row_group_size"] = row_group_rows
        pq.write_table(table, f"{out}/{name}.parquet", **kw)
        counts[name] = table.num_rows

    # region / nation: canonical dimension shapes (queries treat the
    # 5/25 shape as the TPC-H contract).
    write("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }))
    write("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(
            [int(x) for x in rng.integers(0, 5, 25)], pa.int32()),
    }))

    # customer: band-boundary acctbals + exact-tie values.
    n_cust = int(211 * _s("customer"))
    bal = np.round(rng.uniform(-1000, 10000, n_cust), 2)
    bal[:8] = [0.0, 0.0, 5000.0, 5000.0, -0.01, 4999.99, 9999.99,
               -999.99]
    tie = round(float(rng.uniform(100, 9000)), 2)
    bal[8:14] = tie  # six-way exact tie
    write("customer", pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(
            [int(x) for x in rng.integers(0, 25, n_cust)], pa.int32()),
        "c_acctbal": pa.array(bal, pa.float64()),
        "c_mktsegment": pa.array(
            [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]),
    }))

    n_supp = int(13 * _s("supplier"))
    write("supplier", pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(
            [int(x) for x in rng.integers(0, 25, n_supp)], pa.int32()),
        "s_acctbal": pa.array(
            np.round(rng.uniform(-500, 9999, n_supp), 2), pa.float64()),
    }))

    n_part = int(157 * _s("part"))
    write("part", pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array(
            [f"{PNAME_ADJ[i % 6]} {PNAME_NOUN[i % 5]}"
             for i in range(n_part)]),
        "p_brand": pa.array(
            [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PTYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(
            [int(x) for x in rng.integers(1, 51, n_part)], pa.int32()),
        "p_retailprice": pa.array(
            np.round(rng.uniform(900, 2000, n_part), 2), pa.float64()),
    }))

    # orders: 1992-01-01 epoch edge + exact-duplicate dates + total
    # ties; dates stay day-aligned like the fixtures.
    n_ord = int(1777 * _s("orders"))
    epoch = dt.datetime(1992, 1, 1)
    days = rng.integers(0, (dt.datetime(2001, 12, 31) - epoch).days,
                        n_ord)
    days[:3] = 0                      # the Theil-Sen x=0 boundary
    days[3:6] = days[6]               # 4-way same-date cluster
    odate = [epoch + dt.timedelta(days=int(d)) for d in days]
    tot = np.round(rng.uniform(900, 300000, n_ord), 2)
    tot[10:16] = tot[9]               # total-price tie group
    write("orders", pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(
            [int(x) for x in rng.integers(0, n_cust, n_ord)], pa.int64()),
        "o_orderstatus": pa.array(
            [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(tot, pa.float64()),
        "o_orderdate": _ts_us(odate),
        "o_orderpriority": pa.array(
            [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]),
    }))

    # lineitem: boundary quantities/discounts, price ties, one hot
    # part (~5% of rows), shipdate = orderdate + small positive lag.
    n_li = int(7321 * _s("lineitem"))
    okeys = rng.integers(0, n_ord, n_li)
    pkeys = rng.integers(0, n_part, n_li)
    pkeys[: n_li // 20] = 7           # skewed part
    qty = rng.integers(1, 51, n_li).astype(float)
    qty[:4] = [1.0, 1.0, 50.0, 50.0]
    price = np.round(rng.uniform(900, 105000, n_li), 2)
    price[20:26] = price[19]          # extendedprice tie group
    disc = np.round(rng.integers(0, 11, n_li) / 100.0, 2)
    disc[:3] = 0.0
    disc[3:6] = 0.10
    tax = np.round(rng.integers(0, 9, n_li) / 100.0, 2)
    lag = rng.integers(1, 120, n_li)
    sdate = [odate[int(o)] + dt.timedelta(days=int(d))
             for o, d in zip(okeys, lag)]
    linenum: list[int] = []
    seen: dict[int, int] = {}
    for o in okeys:
        seen[int(o)] = seen.get(int(o), 0) + 1
        linenum.append(seen[int(o)])
    write("lineitem", pa.table({
        "l_orderkey": pa.array([int(x) for x in okeys], pa.int64()),
        "l_partkey": pa.array([int(x) for x in pkeys], pa.int64()),
        "l_suppkey": pa.array(
            [int(x) for x in rng.integers(0, n_supp, n_li)], pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(disc, pa.float64()),
        "l_tax": pa.array(tax, pa.float64()),
        "l_returnflag": pa.array(
            [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(
            [("F", "O")[i] for i in rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts_us(sdate),
    }))

    # events: duplicate (user_id, ts) rows, midnight-exact and
    # µs-adjacent stamps, value ties, a ~20% skew user, and rows at /
    # beyond the 64-day bitmap boundary (day 0, 63, 64, 100).
    n_ev = int(1499 * _s("events"))
    base = dt.datetime(2024, 1, 1)
    ts = [base + dt.timedelta(
        seconds=float(rng.uniform(0, 30 * 86400)),
        microseconds=int(rng.integers(0, 1_000_000)))
        for _ in range(n_ev)]
    ts[0] = base                                    # exact midnight
    ts[1] = base + dt.timedelta(days=63)            # last in-window day
    ts[2] = base + dt.timedelta(days=64)            # first excluded day
    ts[3] = base + dt.timedelta(days=100)           # far outside
    ts[4] = ts[5] = base + dt.timedelta(days=2)     # exact ts tie
    ts[6] = ts[4] + dt.timedelta(microseconds=1)    # µs-adjacent
    # user cardinality scales WITH events (the fixtures' model:
    # events/user stays ~constant as sf grows — 66.7 at sf0.01 AND
    # sf0.1). The r11 sf1ish probe's first cut pinned users at 15
    # under 1M events, which degenerated every user-keyed interval
    # join into ~10⁵×10⁵ per-key pair blowups (stream_stream_join:
    # 1460 s of CORRECT but corpus-artifact quadratics).
    n_users = max(15, int(15 * _s("events")))
    uid = rng.integers(0, n_users, n_ev)
    uid[: n_ev // 5] = 3                            # skew user
    uid[4] = uid[5] = 7                             # same user, same ts
    val = np.round(rng.uniform(0, 350, n_ev), 2)
    val[4] = val[5] = val[6] = 42.42                # value tie at tie ts
    write("events", pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts_us(ts),
        "user_id": pa.array([int(x) for x in uid], pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)]),
        "value": pa.array(val, pa.float64()),
        "props": pa.array(
            [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)]),
    }))

    # documents: edge texts up front, then random word soup.
    texts = [
        "",                                     # empty
        "   ",                                  # whitespace-only
        "spark",                                # single word
        "dup " * 199 + "dup",                   # one word repeated
        "tab\tsep\nnewline\rcr  double space",  # contract whitespace mix
        " ".join(WORDS),                        # every vocab word once
        *(UNICODE_DOCS if unicode_docs else []),
        " ".join(rng.choice(WORDS, 2000)),      # giant doc
    ]
    near_a = " ".join(rng.choice(WORDS, 60))
    texts += [near_a, near_a + " extra", near_a]   # dup pair + near-dup
    n_doc = int(601 * _s("documents"))
    while len(texts) < n_doc:
        texts.append(" ".join(
            rng.choice(WORDS, int(rng.integers(5, 120)))))
    write("documents", pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, 5, n_doc)]),
        "source": pa.array(
            [f"src{int(s)}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    # embeddings: exact duplicates, a near-duplicate, a tiny-norm
    # vector; float32 like the fixtures.
    n_emb = int(577 * _s("embeddings"))
    emb = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    emb[1] = emb[0]                       # exact duplicate pair
    emb[2] = emb[0]                       # triple
    emb[3] = emb[0] + np.float32(1e-3)    # near-duplicate
    emb[4] = (emb[4] * np.float32(1e-6))  # tiny norm, still nonzero
    write("embeddings", pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array([list(v) for v in emb],
                              pa.list_(pa.float32())),
        "label": pa.array(
            [int(x) for x in rng.integers(0, 10, n_emb)], pa.int32()),
    }))
    return counts


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/randsf")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--unicode", action="store_true",
                    help="add the non-ASCII probe docs (text-lane "
                         "sweeps only: violates the multimodal / "
                         "normalized-hash ASCII corpus contract)")
    ap.add_argument("--row-group-rows", type=int, default=None,
                    help="write parquet with tiny row groups so Spark "
                         "splits every table scan into many input "
                         "partitions (file-layout invariance axis)")
    args = ap.parse_args()
    counts = gen(args.out, args.seed, unicode_docs=args.unicode,
                 row_group_rows=args.row_group_rows)
    print({"out": args.out, "seed": args.seed,
           "unicode": args.unicode, **counts})
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
