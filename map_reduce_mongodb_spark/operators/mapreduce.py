"""MapReduce-compat façade — API parity with the reference's engine
surface (SURVEY.md §2.6): MongoDB ``mapReduce({query, map, reduce,
out})`` with per-doc ``emit(k, v)`` maps (mapreduce.js:3,40,46 — docs
as ``this``) and ``reduce(key, values) -> value`` (mapreduce.js:52).

Spark-first redesign, not emulation:

- ``map`` runs as an Arrow-batched ``mapInPandas`` flatMap (0..n emits
  per doc — the general M1 contract; the reference only ever emits 0/1).
- ``reduce`` runs ONCE per key via ``applyInPandas`` on the grouped
  data — there is **no re-reduce**, which designs out the reference's
  idempotency-violation hazard (SURVEY.md N2: its mergeReduce crashes
  when MongoDB re-reduces an already-reduced value).
- ``out='merge'`` (the ``out: {reduce: coll}`` mode, mongodb.js:96,100)
  is union-then-single-reduce: previous output rows join the value
  stream as peers, reduced in the same single pass.
- Values cross the boundary as JSON strings (the schemaless-document
  compromise).

PERFORMANCE CONTRACT — read before using:
this façade exists for API parity with the reference engine, not for
throughput. The generic ``map_reduce`` runs row-at-a-time Python in the
map phase and one Python invocation per key in the reduce phase — on
the wordcount bench it is ~15× slower than the equivalent native
``explode + groupBy`` (see queries.py:top_bigrams for the shape to
copy). If your reduce is a counter merge, use
:func:`map_reduce_counters` (Python map emit, fully JVM reduce). For
anything new, write the DataFrame aggregation directly.
"""

from __future__ import annotations

import json
import shutil
from collections.abc import Callable, Iterable, Iterator
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from map_reduce_mongodb_spark.io import read_parquet

#: map_fn(doc) yields (key, value) pairs; values must be JSON-able.
MapFn = Callable[[dict], Iterable[tuple[str, dict]]]
#: reduce_fn(key, values) -> value (single pass; associativity NOT
#: required, unlike MongoDB — the full group is visible at once).
ReduceFn = Callable[[str, list[dict]], dict]

#: Every map_reduce output, and so every ``merge_into`` snapshot.
_KV_SCHEMA = StructType([StructField("_id", StringType()),
                         StructField("value", StringType())])


def map_only(df: DataFrame, map_fn: MapFn) -> DataFrame:
    """Run just the map phase: (_id, value-json) rows, 0..n per doc."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            keys: list[str] = []
            vals: list[str] = []
            for doc in pdf.to_dict("records"):
                for k, v in map_fn(doc):
                    keys.append(str(k))
                    vals.append(json.dumps(v, default=str, sort_keys=True))
            yield pd.DataFrame({"_id": keys, "value": vals})

    return df.mapInPandas(batches, schema=_KV_SCHEMA)


def map_reduce(df: DataFrame, map_fn: MapFn, reduce_fn: ReduceFn,
               out: DataFrame | None = None) -> DataFrame:
    """Full mapReduce job → DataFrame(_id string, value json-string).

    ``out``: a previous job's output to merge into (MongoDB
    ``out:{reduce}``) — unioned before the single reduce pass.
    Like MongoDB, reduce is skipped for single-value keys (the mapped
    value passes through verbatim — A1's map-only idiom relies on it).
    """
    mapped = map_only(df, map_fn)
    if out is not None:
        mapped = mapped.unionByName(out.select("_id", "value"))

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf["_id"].iloc[0]
        if len(pdf) == 1:  # MongoDB contract: reduce skipped for 1 value
            return pdf[["_id", "value"]]
        values = [json.loads(v) for v in pdf["value"]]
        reduced = reduce_fn(key, values)
        return pd.DataFrame({
            "_id": [key],
            "value": [json.dumps(reduced, default=str, sort_keys=True)],
        })

    return mapped.groupBy("_id").applyInPandas(reduce_group, schema=_KV_SCHEMA)


def map_reduce_counters(df: DataFrame, map_fn: MapFn,
                        counter_fields: list[str],
                        out: DataFrame | None = None) -> DataFrame:
    """Native fast path for the overwhelmingly common mapReduce shape:
    values are flat INTEGER COUNTERS merged by field-wise sum (the
    canonical wordcount, mapreduce.js:52-57). The map phase keeps the
    Python emit contract; the REDUCE runs entirely JVM-side — parse
    each counter field with ``get_json_object``, one hash aggregation
    (map-side partial agg, whole-stage codegen), re-serialize to the
    same JSON the generic reducer would produce. No per-key Python
    invocation: measured ~15× faster than the ``applyInPandas`` reduce
    on the wordcount bench query.

    Semantics match :func:`map_reduce` for counter values: summing a
    single value reproduces it verbatim (the single-value passthrough
    rule), and ``out=`` merges a previous output as peer values. One
    documented divergence: a counter field that appears in NONE of a
    key's emits renders as ``0`` here, where the generic passthrough
    would omit the key from the JSON (rendering a fixed field set is
    what makes the JVM-side re-serialization possible). Use
    the generic :func:`map_reduce` only when the reduce logic genuinely
    isn't a counter merge — and prefer native DataFrame aggregations
    over this façade entirely for new code (see module doc)."""
    mapped = map_only(df, map_fn)
    if out is not None:
        mapped = mapped.unionByName(out.select("_id", "value"))
    fields = sorted(counter_fields)  # json.dumps(sort_keys=True) parity
    # coalesce(sum, 0): F.sum ignores NULLs, so a field absent from
    # SOME of a key's emits sums over the present ones — but a field
    # absent from EVERY emit sums to NULL, and the null-propagating
    # F.concat below would render the key's whole value as NULL (not
    # JSON). Such a field renders as 0 instead (the single-value
    # passthrough divergence — the generic reducer would omit the
    # key — is documented above).
    agg = mapped.groupBy("_id").agg(*[
        F.coalesce(
            F.sum(F.get_json_object("value", f"$.{f}").cast("long")),
            F.lit(0)).alias(f)
        for f in fields
    ])
    parts: list = [F.lit("{")]
    for i, f in enumerate(fields):
        if i:
            parts.append(F.lit(", "))
        parts.append(F.lit(f'"{f}": '))
        parts.append(F.col(f).cast("string"))
    parts.append(F.lit("}"))
    return agg.select("_id", F.concat(*parts).alias("value"))


def read_reduced_store(spark: SparkSession, store_path: str) -> DataFrame | None:
    """Read the current snapshot of a persisted ``out:{reduce}`` store,
    or None if the store doesn't exist yet."""
    ptr = Path(store_path) / "_VERSION"
    if not ptr.exists():
        return None
    version = int(ptr.read_text().strip())
    return read_parquet(spark, str(Path(store_path) / f"v{version}"),
                        _KV_SCHEMA)


def merge_into(store_path: str, df: DataFrame, map_fn: MapFn,
               reduce_fn: ReduceFn, keep_versions: int = 2) -> DataFrame:
    """Persisted ``out: {reduce: collection}`` across RUNS — the
    MongoDB behavior of merging a job's output into an *existing
    stored* collection (``/root/reference/mongodb.js:96,100``): each
    invocation reads the store's current snapshot, unions it with the
    new mapped stream, re-reduces in ONE pass, and atomically publishes
    the result as the next snapshot.

    Snapshot-pointer layout (a deliberately minimal version of what
    Delta/Iceberg transaction logs do — neither is in this
    environment):

        store/
          _VERSION   <- text pointer to the live snapshot (atomic
                        rename on publish; readers never observe a
                        half-written snapshot because each version is
                        a FRESH directory, never an in-place overwrite)
          v0/ v1/ …  <- parquet snapshots; the last `keep_versions`
                        are retained so in-flight readers of the
                        previous version don't break mid-scan

    Contract carried over from MongoDB's out:{reduce}: the previous
    reduced value participates as a PEER value of the new emits, so
    ``reduce_fn`` must accept already-reduced values (true for any
    associative merge like counters — and the store round-trip test
    pins two successive runs == one run over all input). Keys present
    only in the store pass through verbatim via the single-value-key
    rule. At real scale the pointer file lives on object storage;
    swap this layout for Delta/Iceberg when available."""
    spark = df.sparkSession
    prev = read_reduced_store(spark, store_path)
    merged = map_reduce(df, map_fn, reduce_fn, out=prev)
    root = Path(store_path)
    root.mkdir(parents=True, exist_ok=True)
    ptr = root / "_VERSION"
    current = int(ptr.read_text().strip()) if ptr.exists() else -1
    nxt = current + 1
    # New snapshot directory — never overwrites the one being read.
    merged.write.mode("overwrite").parquet(str(root / f"v{nxt}"))
    tmp = root / "_VERSION.tmp"
    tmp.write_text(str(nxt))
    tmp.replace(ptr)  # atomic publish
    for p in root.glob("v*"):
        try:
            if int(p.name[1:]) <= nxt - keep_versions:
                shutil.rmtree(p, ignore_errors=True)
        except ValueError:
            continue
    return read_parquet(spark, str(root / f"v{nxt}"), merged.schema)
