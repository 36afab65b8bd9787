"""Seeded benchmark inputs and the ground truth each workload is checked
against.

Inputs are a pure function of (workload kind, seed, size): the same
seed writes byte-identical files. They are cached under
``<checkout>/.perfbench/inputs/``, keyed also on a hash of the
generators and oracle texts, so generating them is never part of a
timed run or of set-up time; the seconds spent generating are recorded
beside the result as a non-metric field.

- ``usgs``: 49 per-state NWIS-shaped JSON responses (``value.timeSeries[]``
  plus the fields the program never reads: ``queryInfo``, ``qualifiers``,
  ``method``, ...). Ground truth is computed here in plain Python: the
  sites that have a usable reading for both parameter codes, each code
  taking its lowest-``name`` series, exactly the rule of
  ``pipeline.usgs.merge_sites`` + ``export_features``.
- ``corpus``: the parquet tables of ``tools/gen_random_corpus.gen``,
  imported and left unmodified. Ground truth is the DuckDB oracle of
  each checked registry query (``queries.ORACLE_SQL``), except the
  lexical dedup pair graph, computed in Python, whose exact Jaccard
  pairs also bound what MinHash may report.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import re
import sys
import time
from collections import Counter

#: One response per state, as the reference harvest loops over states.
STATES = (
    "al", "ar", "az", "ca", "co", "ct", "de", "fl", "ga", "ia", "id", "il",
    "in", "ks", "ky", "la", "ma", "md", "me", "mi", "mn", "mo", "ms", "mt",
    "nc", "nd", "ne", "nh", "nj", "nm", "nv", "ny", "oh", "ok", "or", "pa",
    "ri", "sc", "sd", "tn", "tx", "ut", "va", "vt", "wa", "wi", "wv", "wy",
    "ak",
)
STREAMFLOW, GAGEHEIGHT, TEMPERATURE = "00065", "00060", "00010"
NO_DATA = -999999.0

#: Input sizes. ``usgs``: sites per state and readings per series;
#: ``corpus``: the row-count multiplier of gen_random_corpus (per table).
USGS_SIZE = {"sites_per_state": 60, "values_per_series": 24}
CORPUS_SIZE = {"scale": 8.0, "documents": 1.0, "embeddings": 0.5}

#: Registry queries checked against an oracle, per workload.
TPCH_PREFIX = re.compile(r"q\d+_")
DEDUP_ORACLE_QUERIES = ("dedup_clusters", "dedup_survivors",
                        "semantic_dedup_clusters", "semantic_dedup_survivors")
#: Checked with their registered DuckDB oracle. The lexical dedup
#: oracles' recursive closure takes minutes in DuckDB, so their answer
#: is computed here in Python from the same pair definition instead.
SQL_ORACLE_QUERIES = ("semantic_dedup_clusters", "semantic_dedup_survivors")
JACCARD_THRESHOLD = 0.7


def _size_tag(size: dict) -> str:
    return "-".join(f"{k}{v}" for k, v in sorted(size.items()))


def source_tag(kind: str, repo: str) -> str:
    """Short hash of what the inputs and ground truth are made from:
    this file, and for the corpus also ``tools/gen_random_corpus.py``
    and the oracle SQL of every checked query. A change to any of them
    gives new cache entries instead of stale inputs or oracles."""
    h = hashlib.sha256()
    files = [os.path.abspath(__file__)]
    if kind == "corpus":
        files.append(os.path.join(repo, "tools", "gen_random_corpus.py"))
    for path in files:
        with open(path, "rb") as f:
            h.update(f.read())
    if kind == "corpus":
        from map_reduce_mongodb_spark.queries import ORACLE_SQL, QUERIES
        for name in tpch_queries(QUERIES) + list(SQL_ORACLE_QUERIES):
            h.update(f"{name}\0{ORACLE_SQL[name]}\0".encode())
    return h.hexdigest()[:12]


def cache_dir(root: str, kind: str, seed: int, size: dict, repo: str) -> str:
    return os.path.join(root, "inputs", f"{kind}-seed{seed}-{_size_tag(size)}"
                        f"-{source_tag(kind, repo)}")


def ensure(root: str, kind: str, seed: int, size: dict, repo: str
           ) -> tuple[str, dict, float]:
    """Return (input dir, ground truth, seconds spent generating now).
    A complete cached entry (``truth.json`` is written last) is reused."""
    out = cache_dir(root, kind, seed, size, repo)
    truth_path = os.path.join(out, "truth.json")
    if os.path.exists(truth_path):
        with open(truth_path) as f:
            return out, json.load(f), 0.0
    t0 = time.perf_counter()
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    if kind == "usgs":
        truth = gen_usgs(os.path.join(tmp, "data"), seed, **size)
    else:
        truth = gen_corpus(os.path.join(tmp, "data"), seed, size, repo)
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent run won the race; use its copy
        import shutil
        shutil.rmtree(tmp, ignore_errors=True)
    with open(truth_path) as f:
        return out, json.load(f), time.perf_counter() - t0


# ----------------------------------------------------------------------
# USGS responses
# ----------------------------------------------------------------------

def _series(rng: random.Random, site: dict, code: str, method: int,
            n_values: int) -> dict:
    """One ``timeSeries`` element. ``name`` orders series of one
    (site, code) by method, so "lowest _id" picks method 0 first."""
    if rng.random() < 1 / 17:
        readings = []                       # no reading: dropped
    else:
        readings = []
        for k in range(n_values):
            value = "" if (k == 0 and rng.random() < 1 / 13) else \
                f"{rng.uniform(0, 5000):.2f}"
            readings.append({
                "value": value,
                "qualifiers": ["P"],
                "dateTime": f"2024-03-{1 + k // 96:02d}T"
                            f"{(k % 96) // 4:02d}:{15 * (k % 4):02d}:00.000-05:00",
            })
    return {
        "sourceInfo": {
            "siteName": site["name"],
            "siteCode": [{"value": site["code"], "network": "NWIS",
                          "agencyCode": "USGS"}],
            "timeZoneInfo": {"defaultTimeZone": {"zoneOffset": "-05:00"}},
            "geoLocation": {"geogLocation": {
                "srs": "EPSG:4326", "latitude": site["lat"],
                "longitude": site["lon"]}},
            "siteProperty": [{"value": "ST", "name": "siteTypeCd"}],
        },
        "variable": {
            "variableCode": [{"value": code, "network": "NWIS",
                              "variableID": 45807197}],
            "variableName": "Gage height, ft",
            "unit": {"unitCode": "ft"},
            "noDataValue": NO_DATA,
        },
        "values": [{
            "value": readings,
            "qualifier": [{"qualifierCode": "P",
                           "qualifierDescription": "Provisional data"}],
            "method": [{"methodDescription": "", "methodID": 69928 + method}],
        }],
        "name": f"USGS:{site['code']}:{code}:{method:05d}",
    }


def gen_usgs(out: str, seed: int, sites_per_state: int,
             values_per_series: int) -> dict:
    """Write one response file per state; return the ground truth."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    n_series = 0
    in_bytes = 0
    features = []
    for si, state in enumerate(STATES):
        series = []
        for j in range(sites_per_state):
            site = {
                "code": f"{si:02d}{j:06d}",
                "name": f"{state.upper()} RIVER {j} NEAR TOWN {rng.randrange(1000)}",
                "lat": round(rng.uniform(25, 49), 6),
                "lon": round(rng.uniform(-124, -67), 6),
            }
            # both / one / neither code, some codes twice (two methods)
            codes = rng.choice(([STREAMFLOW, GAGEHEIGHT],
                                [STREAMFLOW, GAGEHEIGHT, TEMPERATURE],
                                [STREAMFLOW], [GAGEHEIGHT], [TEMPERATURE]))
            site_series = []
            for code in codes:
                for method in range(rng.choice((1, 1, 2))):
                    site_series.append(_series(rng, site, code, method,
                                               values_per_series))
            rng.shuffle(site_series)
            series += site_series
            feat = _expected_feature(site, site_series)
            if feat is not None:
                features.append(feat)
        doc = {
            "name": "ns1:timeSeriesResponseType",
            "declaredType": "org.cuahsi.waterml.TimeSeriesResponseType",
            "scope": "javax.xml.bind.JAXBElement$GlobalScope",
            "value": {
                "queryInfo": {
                    "queryURL": "http://waterservices.usgs.gov/nwis/iv/"
                                f"format=json&stateCd={state}"
                                "&parameterCd=00065,00060",
                    "criteria": {"locationParam": f"[stateCd={state}]",
                                 "variableParam": "[00065, 00060]"},
                    "note": [{"value": "[ALL]", "title": "filter:sites"}],
                },
                "timeSeries": series,
            },
            "nil": False,
            "globalScope": True,
            "typeSubstituted": False,
        }
        path = os.path.join(out, f"{state}.json")
        with open(path, "w") as f:
            json.dump(doc, f)
        in_bytes += os.path.getsize(path)
        n_series += len(series)
    return {"records": n_series, "input_bytes": in_bytes,
            "features": len(features),
            "fc_sha256": feature_collection_digest(features)}


def _expected_feature(site: dict, site_series: list[dict]) -> dict | None:
    """The exported Feature for one site, or None when the site lacks a
    usable reading for either code. Mirrors merge_sites: per code, the
    reading of the lowest-``name`` series whose first reading exists."""
    best: dict[str, dict] = {}
    for s in site_series:
        code = s["variable"]["variableCode"][0]["value"]
        readings = s["values"][0]["value"]
        if code not in (STREAMFLOW, GAGEHEIGHT) or not readings:
            continue
        if code not in best or s["name"] < best[code]["name"]:
            best[code] = s
    if len(best) < 2:
        return None

    def reading(s: dict) -> dict:
        r = s["values"][0]["value"][0]
        return {"variableCode": s["variable"]["variableCode"][0]["value"],
                "noDataValue": str(NO_DATA),
                "value": r["value"] or "undefined",
                "timeStamp": r["dateTime"] or "undefined"}

    return {
        "type": "Feature",
        "properties": {
            "record": "usgs-water", "site": site["name"], "srs": "EPSG:4326",
            "siteCode": site["code"],
            "streamFlow": reading(best[STREAMFLOW]),
            "gageHeight": reading(best[GAGEHEIGHT]),
        },
        "geometry": {"type": "Point",
                     "coordinates": [site["lon"], site["lat"]]},
    }


def feature_collection_digest(features: list[dict]) -> str:
    """Order-insensitive content hash of a FeatureCollection's features."""
    canon = sorted(json.dumps(f, sort_keys=True) for f in features)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


# ----------------------------------------------------------------------
# Corpus (TPC-H tables, documents, embeddings)
# ----------------------------------------------------------------------

def gen_corpus(out: str, seed: int, size: dict, repo: str) -> dict:
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        import gen_random_corpus
    finally:
        sys.path.pop(0)
    scales = {k: v for k, v in size.items() if k != "scale"}
    counts = gen_random_corpus.gen(out, seed, scale=size["scale"],
                                   scales=scales)
    from map_reduce_mongodb_spark.queries import ORACLE_SQL, QUERIES
    import duckdb

    oracles = {}
    con = duckdb.connect()
    try:
        for t in counts:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(out, t)}.parquet'")
        for name in tpch_queries(QUERIES) + list(SQL_ORACLE_QUERIES):
            oracles[name] = digest_rows(con.execute(ORACLE_SQL[name]).fetchdf())
        docs = con.execute("SELECT doc_id, text, lang, n_chars FROM documents "
                           "ORDER BY doc_id").fetchdf()
    finally:
        con.close()
    scored = jaccard_pairs(zip(docs["doc_id"], docs["text"]))
    pairs = [[a, b] for a, b, _j in scored]
    oracles.update(lexical_dedup_oracles(docs, pairs))
    return {"counts": counts, "oracles": oracles, "jaccard_pairs": pairs,
            "identical_pairs": [[a, b] for a, b, j in scored if j == 1.0]}


def tpch_queries(registry) -> list[str]:
    """The TPC-H-shaped registry queries (q1_* ... q22_*), by number."""
    names = [n for n in registry if TPCH_PREFIX.match(n)]
    return sorted(names, key=lambda n: int(n[1:n.index("_")]))


def word_shingles(text: str, n: int = 3) -> frozenset:
    """The word n-gram set of ``functions.text.word_shingles``: trim
    spaces, split on whitespace runs, n consecutive words."""
    words = re.split(r"[ \t\n\x0b\f\r]+", text.strip(" "))
    return frozenset(tuple(words[i:i + n]) for i in range(len(words) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def jaccard_pairs(docs) -> list[tuple[int, int, float]]:
    """All (id_a < id_b, jaccard) with word-3-shingle Jaccard >= 0.7,
    the pair graph of the ``dedup_clusters`` oracle (docs with fewer
    than three words have no shingles and no pairs)."""
    sets = sorted(((len(sh), int(d), sh) for d, t in docs
                   if (sh := word_shingles(t))), key=lambda x: x[0])
    out = []
    for i, (na, a, sa) in enumerate(sets):
        for nb, b, sb in sets[i + 1:]:
            if nb * JACCARD_THRESHOLD > na:
                break                     # sizes only grow from here
            j = jaccard(sa, sb)
            if j >= JACCARD_THRESHOLD:
                out.append((min(a, b), max(a, b), j))
    return sorted(out)


def lexical_dedup_oracles(docs, pairs) -> dict[str, str]:
    """Digests of ``dedup_clusters`` (doc_id, cluster_id = component
    minimum, cluster_size) and ``dedup_survivors`` (per lang: documents
    and characters left once every non-minimum member is dropped)."""
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)   # the root is the minimum
    cluster = {d: find(d) for d in list(parent)}
    size = Counter(cluster.values())
    clusters = pd.DataFrame({
        "doc_id": pd.Series(list(cluster), dtype="int64"),
        "cluster_id": pd.Series(list(cluster.values()), dtype="int64"),
        "cluster_size": pd.Series([size[c] for c in cluster.values()],
                                  dtype="int64")})
    kept = docs[[cluster.get(int(d), int(d)) == int(d)
                 for d in docs["doc_id"]]]
    survivors = (kept.groupby("lang")
                 .agg(n_kept=("doc_id", "size"), kept_chars=("n_chars", "sum"))
                 .reset_index().astype({"n_kept": "int64",
                                        "kept_chars": "int64"}))
    return {"dedup_clusters": digest_rows(clusters),
            "dedup_survivors": digest_rows(survivors)}


# ----------------------------------------------------------------------
# Result canonicalisation (order-insensitive, dtype-aware)
# ----------------------------------------------------------------------

def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, int):
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return [_canon(x) for x in v]
    if hasattr(v, "item"):
        return _canon(v.item())
    return str(v)


def digest_rows(pdf) -> str:
    """sha256 of a result's column-name-sorted multiset of rows, with
    the cell canonicalisation the repo's oracle-parity tests use."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = Counter(json.dumps([_canon(v) for v in row])
                   for row in pdf.itertuples(index=False, name=None))
    body = json.dumps([list(pdf.columns), sorted(rows.items())])
    return hashlib.sha256(body.encode()).hexdigest()
