"""MapReduce façade: the §2.6 engine-API contract, including the
``out:{reduce}`` merge mode and the single-value-key passthrough."""

from __future__ import annotations

import json

from map_reduce_mongodb_spark.operators.mapreduce import map_only, map_reduce
from tests.conftest import jobs_launched


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_multi_emit_flatmap(spark):
    df = _docs(spark, [(1, "a b a"), (2, "b")])
    mapped = map_only(df, lambda d: ((w, {"n": 1}) for w in d["text"].split()))
    assert mapped.count() == 4  # 0..n emits per doc (M1 general form)


def test_wordcount_reduce(spark):
    df = _docs(spark, [(1, "a b a"), (2, "b c")])
    out = map_reduce(
        df,
        lambda d: ((w, {"n": 1}) for w in d["text"].split()),
        lambda k, vs: {"n": sum(v["n"] for v in vs)},
    )
    got = {r._id: json.loads(r.value)["n"] for r in out.collect()}
    assert got == {"a": 2, "b": 2, "c": 1}


def test_single_value_key_skips_reduce(spark):
    """MongoDB contract: reduce never runs for keys with one value —
    the reference's map-only job (A1) depends on this."""
    df = _docs(spark, [(1, "x")])

    def exploding_reduce(k, vs):
        raise AssertionError("reduce must not run for single-value keys")

    out = map_reduce(df, lambda d: [(d["text"], {"v": d["doc_id"]})],
                     exploding_reduce)
    assert json.loads(out.collect()[0].value) == {"v": 1}


def test_counter_fast_path_equals_generic_reduce(spark):
    """map_reduce_counters (JVM reduce) must produce byte-identical
    (_id, value-json) rows to the generic applyInPandas reduce for
    counter values — including the single-value passthrough rule and
    the out= merge mode."""
    from map_reduce_mongodb_spark.operators.mapreduce import (
        map_reduce_counters)

    df = _docs(spark, [(1, "a b a"), (2, "b c"), (3, "lonely")])
    mr = lambda d: ((w, {"count": 1}) for w in d["text"].split())
    red = lambda k, vs: {"count": sum(v["count"] for v in vs)}
    generic = sorted(map(tuple, map_reduce(df, mr, red).collect()))
    native = sorted(map(tuple,
                        map_reduce_counters(df, mr, ["count"]).collect()))
    assert native == generic
    # out= merge parity too
    df2 = _docs(spark, [(4, "a lonely")])
    prev = map_reduce(df, mr, red)
    generic2 = sorted(map(tuple, map_reduce(df2, mr, red, out=prev).collect()))
    native2 = sorted(map(tuple,
                         map_reduce_counters(df2, mr, ["count"],
                                             out=prev).collect()))
    assert native2 == generic2


def test_counter_field_absent_from_all_emits_renders_zero(spark):
    """A counter field that appears in NONE of a key's emits must
    render as 0, not poison the whole value to NULL: F.sum of the
    missing field is NULL and F.concat is null-propagating, so before
    the coalesce the key's entire value column came back NULL (not
    JSON) — r9 review. The divergence from the generic passthrough
    (which would omit the key) is documented on the operator."""
    import json as _json

    from map_reduce_mongodb_spark.operators.mapreduce import (
        map_reduce_counters)

    df = _docs(spark, [(1, "only_a")])
    mr = lambda d: [(d["text"], {"a": 1})]  # never emits "b"
    rows = {r["_id"]: r["value"]
            for r in map_reduce_counters(df, mr, ["a", "b"]).collect()}
    assert rows["only_a"] is not None
    assert _json.loads(rows["only_a"]) == {"a": 1, "b": 0}


def test_persisted_merge_into_store(spark, tmp_path):
    """Persisted out:{reduce}: two successive jobs merging into one
    parquet-backed store must equal a single job over all input, and
    the store must survive process-independent reads (version pointer).
    Also pins snapshot pruning, store-only key passthrough, and a
    snapshot read that launches no schema-inference job."""
    from map_reduce_mongodb_spark.operators.mapreduce import (
        merge_into, read_reduced_store)

    store = str(tmp_path / "wc_store")
    mr = lambda d: ((w, {"n": 1}) for w in d["text"].split())
    red = lambda k, vs: {"n": sum(v["n"] for v in vs)}

    half1 = _docs(spark, [(1, "a b a"), (2, "b only_in_first")])
    half2 = _docs(spark, [(3, "a c"), (4, "b c c")])
    merge_into(store, half1, mr, red)
    merge_into(store, half2, mr, red)

    oracle = map_reduce(_docs(spark, [(1, "a b a"), (2, "b only_in_first"),
                                      (3, "a c"), (4, "b c c")]), mr, red)
    want = {r._id: json.loads(r.value)["n"] for r in oracle.collect()}
    snap, jobs = jobs_launched(
        spark, lambda: read_reduced_store(spark, store))
    assert jobs == []  # the snapshot schema is known: no inference job
    got = {r._id: json.loads(r.value)["n"] for r in snap.collect()}
    assert got == want
    assert got["only_in_first"] == 1  # store-only key passed through
    # keep_versions=2: v0 pruned after the second publish
    versions = sorted(p.name for p in (tmp_path / "wc_store").glob("v*"))
    assert versions == ["v0", "v1"] or versions == ["v1"]
    assert (tmp_path / "wc_store" / "_VERSION").read_text().strip() == "1"


def test_out_merge_mode(spark):
    """out:{reduce} analogue: previous output participates as a peer
    value in ONE reduce pass (no re-reduce hazard — SURVEY N2)."""
    df1 = _docs(spark, [(1, "a"), (2, "a b")])
    mr = lambda d: ((w, {"n": 1}) for w in d["text"].split())
    red = lambda k, vs: {"n": sum(v["n"] for v in vs)}
    first = map_reduce(df1, mr, red)
    df2 = _docs(spark, [(3, "a b c")])
    merged = map_reduce(df2, mr, red, out=first)
    got = {r._id: json.loads(r.value)["n"] for r in merged.collect()}
    assert got == {"a": 3, "b": 2, "c": 1}


def test_native_udtf_lateral_emit(spark):
    """§2.7 UDTF surface, Spark-4-native form: a registered Python UDTF
    applied with LATERAL — one 0..n emit per input row, same contract
    as the reference's mapper emits (mapreduce.js:10-17). The
    explode-based path stays the production fast path (JVM-side); this
    pins the compat surface for user-defined table functions that
    genuinely need imperative Python."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, n: int")
    class EmitWordCounts:
        def eval(self, text: str):
            words = text.split()
            for w in sorted(set(words)):
                yield w, words.count(w)

    spark.udtf.register("emit_word_counts", EmitWordCounts)
    df = _docs(spark, [(1, "a b a"), (2, "b c")])
    df.createOrReplaceTempView("udtf_docs")
    got = {(r["word"], r["n"]) for r in spark.sql(
        "SELECT e.word, e.n FROM udtf_docs, "
        "LATERAL emit_word_counts(text) e").collect()}
    assert got == {("a", 2), ("b", 1), ("c", 1)}
