"""Dedup operator tests: the approximate paths are checked against the
exact baselines (the testdata plants near-dup pairs at J≈0.89-0.99)."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_mongodb_spark.io import table
from map_reduce_mongodb_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_groups,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_md5,
    simhash_pairs,
)
from tests.conftest import SF_DIR


def _docs(spark):
    return table(spark, "documents", SF_DIR)


def test_exact_dedup_survivors(spark):
    docs = _docs(spark)
    groups = exact_dedup_groups(docs)
    survivors = exact_dedup(docs)
    assert survivors.count() == groups.count()
    assert groups.agg(F.sum("n_dups")).collect()[0][0] == docs.count()
    # survivors keep the original schema
    assert survivors.columns == docs.columns
    # IDENTITY, not just count (r9 test review: count/schema alone
    # pass for a wrong-survivor regression, e.g. min_by flipping to
    # max_by): the survivor of every content group must be exactly
    # the MIN doc_id, computed independently here
    from map_reduce_mongodb_spark.functions.text import fingerprint
    want = {r[0] for r in
            docs.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
            .groupBy("fp").agg(F.min("doc_id").alias("d"))
            .select("d").collect()}
    got = {r[0] for r in survivors.select("doc_id").collect()}
    assert got == want


def test_minhash_finds_planted_near_dups(spark):
    docs = _docs(spark)
    # Unblocked exact baseline (minhash has no lang blocking either).
    exact = {tuple(r) for r in
             ngram_jaccard_pairs(docs, threshold=0.7, block_col=None).select(
                 "id_a", "id_b").collect()}
    approx = {tuple(r) for r in
              minhash_dedup_pairs(docs, threshold=0.7).select(
                  "id_a", "id_b").collect()}
    assert exact, "testdata should contain planted near-dup pairs"
    # Precision: every minhash pair passed true-Jaccard verification,
    # so approx ⊆ exact must hold exactly.
    assert approx <= exact
    # Recall: banding at 16/4 keeps ≥80% of the J≥0.7 planted pairs.
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, f"minhash recall too low: {recall}"


def test_minhash_deterministic(spark):
    docs = _docs(spark)
    a = sorted(map(tuple, minhash_dedup_pairs(docs).collect()))
    b = sorted(map(tuple, minhash_dedup_pairs(docs).collect()))
    assert a == b


def _node_names(plan) -> tuple:
    """A JVM logical plan as nested (nodeName, children...) tuples."""
    kids = plan.children()
    return (plan.nodeName(),
            *(_node_names(kids.apply(i)) for i in range(kids.size())))


def test_minhash_lanes_run_one_pipeline(spark):
    """The hash lane is MinHash's only fork: the md5 lane (the one
    DuckDB checks) and the xxhash64 lane (the one the curation job
    runs) build the same optimized operator tree, both find every
    planted pair of identical texts, and they agree on the exact
    Jaccard of every pair both find."""
    docs = _docs(spark).select("doc_id", "text")
    # plant verbatim copies of five documents under new ids
    copies = (docs.orderBy("doc_id").limit(5)
              .select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    corpus = docs.unionByName(copies)
    planted = {(r.doc_id - 100000, r.doc_id) for r in copies.collect()}
    lanes = {h: minhash_dedup_pairs(corpus, threshold=0.7, hasher=h)
             for h in ("md5", "xxhash64")}
    trees = {h: _node_names(df._jdf.queryExecution().optimizedPlan())
             for h, df in lanes.items()}
    assert trees["md5"] == trees["xxhash64"]

    found = {h: {(r.id_a, r.id_b): r.jaccard for r in df.collect()}
             for h, df in lanes.items()}
    for h, pairs in found.items():
        assert planted <= set(pairs), (h, planted - set(pairs))
    both = set(found["md5"]) & set(found["xxhash64"])
    assert both > planted  # the fixture's own near-dups are found too
    assert all(found["md5"][p] == found["xxhash64"][p] for p in both)


def test_simhash_near_dups_have_small_hamming(spark):
    docs = _docs(spark)
    fps = simhash_md5(docs)
    pairs = ngram_jaccard_pairs(docs, threshold=0.7).select("id_a", "id_b")
    a = fps.select(F.col("doc_id").alias("id_a"),
                   F.col("simhash").alias("h_a"))
    b = fps.select(F.col("doc_id").alias("id_b"),
                   F.col("simhash").alias("h_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b").select(
        F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("ham"))
    rows = joined.collect()
    assert rows
    avg_ham = sum(r.ham for r in rows) / len(rows)
    # Near-dups should agree on most of the 32 bits; random pairs ~16.
    assert avg_ham < 8, f"avg hamming {avg_ham} too high for near-dups"


def test_simhash_pairs_match_bruteforce_hamming(spark):
    """The pigeonhole block-split pair search must be EXACT for
    distance ≤ max_hamming: any pair within k differing bits shares at
    least one of the k+1 blocks, so no candidate can be missed, and
    popcount verification removes false positives. Compare against the
    brute-force all-pairs Hamming scan on the fixture."""
    fps = simhash_md5(_docs(spark)).persist()
    rows = fps.collect()
    brute = sorted(
        (min(a.doc_id, b.doc_id), max(a.doc_id, b.doc_id),
         bin(a.simhash ^ b.simhash).count("1"))
        for i, a in enumerate(rows) for b in rows[i + 1:]
        if bin(a.simhash ^ b.simhash).count("1") <= 3)
    got = sorted(map(tuple, simhash_pairs(fps, max_hamming=3).collect()))
    fps.unpersist()
    assert brute and got == brute


def test_winnow_guarantees_shared_passage_detection(spark):
    """Winnowing's core guarantee: two documents sharing a run of
    window+gram_n-1 consecutive words share at least one selected
    fingerprint. Plant a copied passage inside otherwise-distinct
    documents and require the pair to surface; unrelated docs with no
    shared passage must not."""
    from map_reduce_mongodb_spark.operators.dedup import winnow_dup_pairs

    passage = "the quick brown fox jumps over the lazy dog again and again"
    filler_a = " ".join(f"alpha{i}" for i in range(30))
    filler_b = " ".join(f"beta{i}" for i in range(30))
    filler_c = " ".join(f"gamma{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, f"{filler_a} {passage} more unrelated tail words here"),
         (2, f"{passage} {filler_b}"),
         (3, filler_c)],
        "doc_id long, text string")
    pairs = {(r.id_a, r.id_b)
             for r in winnow_dup_pairs(docs, min_shared=1).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_prefix_filtered_jaccard_equals_inverted_index(spark):
    """Prefix filtering is an exact optimization: at several
    thresholds the result must equal the plain inverted-index
    formulation (itself the brute-force answer)."""
    from map_reduce_mongodb_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix)
    docs = _docs(spark)
    for t in (0.5, 0.7, 0.9):
        plain = sorted(map(tuple, ngram_jaccard_pairs(
            docs, threshold=t, block_col=None).collect()))
        pref = sorted(map(tuple, ngram_jaccard_pairs_prefix(
            docs, threshold=t).collect()))
        assert pref == plain, f"threshold {t}"
    assert plain  # the fixture plants qualifying pairs


def test_prefix_jaccard_max_df_pruning(spark):
    """The df cap is recall-only: capped results are a subset of the
    exact answer (identical Jaccard values), an infinite cap changes
    nothing, and the planted near-dup pairs (rare shingles) survive
    even an aggressive cap."""
    from map_reduce_mongodb_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix)
    docs = _docs(spark)
    exact = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs_prefix(
                 docs, threshold=0.5).collect()}
    uncapped = {(r.id_a, r.id_b): r.jaccard
                for r in ngram_jaccard_pairs_prefix(
                    docs, threshold=0.5, max_df=10**9).collect()}
    assert uncapped == exact
    capped = {(r.id_a, r.id_b): r.jaccard
              for r in ngram_jaccard_pairs_prefix(
                  docs, threshold=0.5, max_df=2).collect()}
    assert set(capped) <= set(exact)
    assert all(exact[p] == j for p, j in capped.items())
    assert capped  # planted dups share rare shingles -> still found


def test_ngram_jaccard_fast_twin_equals_exact(spark):
    """The xxhash64-posting twin is the same algorithm over hashed
    join keys: absent a 64-bit collision (probability ~2^-64 per
    shingle pair) the pair set AND the Jaccard values are identical
    to the exact string-join answer."""
    docs = _docs(spark)
    exact = sorted(map(tuple, ngram_jaccard_pairs(
        docs, threshold=0.7, block_col="lang").collect()))
    fast = sorted(map(tuple, ngram_jaccard_pairs(
        docs, threshold=0.7, block_col="lang",
        hasher="xxhash64").collect()))
    assert fast == exact
    assert exact  # fixture plants qualifying pairs


def test_winnow_fast_twin_guarantee_and_agreement(spark):
    """The xxhash64 winnowing twin keeps the scheme's guarantee (a
    planted shared passage must surface; disjoint docs must not) —
    the hash choice changes WHICH grams are selected, not the
    guarantee. On the real corpus the two hashers must agree on the
    clear-cut planted copies (pairs sharing ≥3 fingerprints under
    both)."""
    from map_reduce_mongodb_spark.operators.dedup import winnow_dup_pairs

    passage = "the quick brown fox jumps over the lazy dog again and again"
    filler_a = " ".join(f"alpha{i}" for i in range(30))
    filler_b = " ".join(f"beta{i}" for i in range(30))
    filler_c = " ".join(f"gamma{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, f"{filler_a} {passage} more unrelated tail words here"),
         (2, f"{passage} {filler_b}"),
         (3, filler_c)],
        "doc_id long, text string")
    pairs = {(r.id_a, r.id_b)
             for r in winnow_dup_pairs(docs, min_shared=1,
                                       hasher="xxhash64").collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)

    corpus = _docs(spark)
    md5_pairs = {(r.id_a, r.id_b)
                 for r in winnow_dup_pairs(corpus, min_shared=3).collect()}
    fast_pairs = {(r.id_a, r.id_b)
                  for r in winnow_dup_pairs(corpus, min_shared=3,
                                            hasher="xxhash64").collect()}
    assert md5_pairs  # fixture plants passage copies
    # Different hashers sample different grams, so the n_shared
    # borderline can differ; the planted copies (large overlap) must
    # be found by both.
    overlap = len(md5_pairs & fast_pairs) / len(md5_pairs)
    assert overlap >= 0.8, f"winnow twin agreement too low: {overlap}"


def test_hashed_shingles_align_with_string_shingles(spark):
    """hashed_word_shingles must produce arrays positionally aligned
    with word_shingles (same doc → same shingle count; distinct sets
    equal in size barring 2^-64 collisions) — the contract the fast
    dedup twins rely on."""
    from map_reduce_mongodb_spark.functions.text import (
        hashed_word_shingles, word_shingles)

    docs = _docs(spark).limit(100)
    both = docs.select(
        F.size(word_shingles(F.col("text"), 3)).alias("ns"),
        F.size(hashed_word_shingles(F.col("text"), 3)).alias("nh"),
    ).collect()
    assert both
    assert all(r.ns == r.nh for r in both)


def test_minhash_bucket_cap_bounds_hot_buckets(spark):
    """The max_bucket_size skew defense: a planted mega-bucket (many
    identical boilerplate docs, which collide in EVERY band) is
    dropped from candidate generation, while genuinely similar pairs
    that cohabit normal-size buckets survive. Without the cap the
    boilerplate cluster alone contributes ~|B|²/2 pairs."""
    docs = _docs(spark)
    boiler = docs.limit(1).select(
        (F.col("doc_id") + 100000).alias("base"), "text")
    clones = (boiler.crossJoin(
        spark.range(40).select(F.col("id").alias("i")))
        .select((F.col("base") + F.col("i")).alias("doc_id"),
                F.lit("common boilerplate header repeated verbatim "
                      "across the whole crawl every single page")
                .alias("text")))
    corpus = docs.select("doc_id", "text").unionByName(clones)
    uncapped = minhash_dedup_pairs(corpus, threshold=0.7)
    capped = minhash_dedup_pairs(corpus, threshold=0.7,
                                 max_bucket_size=20)
    un = {tuple(r) for r in uncapped.select("id_a", "id_b").collect()}
    cp = {tuple(r) for r in capped.select("id_a", "id_b").collect()}
    clone_pairs = {p for p in un if p[0] >= 100000 and p[1] >= 100000}
    # the 40-clone cluster produced ~780 pairs uncapped, none capped
    assert len(clone_pairs) == 40 * 39 // 2
    assert not {p for p in cp if p[0] >= 100000 and p[1] >= 100000}
    # every non-boilerplate pair survives the cap
    assert cp >= (un - clone_pairs)


def test_containment_finds_planted_excerpt(spark):
    """A short quote embedded verbatim in a long page: Jaccard misses
    it (J ≈ len_q/len_page), containment flags quote→page at ~1.0 —
    the asymmetry the operator exists for. The page is NOT contained
    in the quote (reverse direction absent)."""
    from map_reduce_mongodb_spark.operators.dedup import (
        containment_pairs, ngram_jaccard_pairs)

    quote = "the quick brown fox jumps over the lazy dog again"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(60))
    page = filler + " " + quote + " " + filler.replace("w", "z")
    other = " ".join(f"q{i} r{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, quote), (2, page), (3, other)], "doc_id long, text string")

    got = {(r.contained_id, r.container_id)
           for r in containment_pairs(df, threshold=0.9).collect()}
    assert (1, 2) in got and (2, 1) not in got and len(got) == 1

    jac = {(r.id_a, r.id_b)
           for r in ngram_jaccard_pairs(df, threshold=0.5,
                                        block_col=None).collect()}
    assert (1, 2) not in jac  # symmetric Jaccard misses the excerpt


def test_containment_df_cap_only_lowers_scores(spark):
    """With a stop-shingle cap, pruned postings can only LOWER
    containment — capped results are a subset of uncapped at the same
    threshold."""
    from map_reduce_mongodb_spark.operators.dedup import containment_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(i, base + f" tail{i % 2}") for i in range(8)],
        "doc_id long, text string")
    full = {(r.contained_id, r.container_id)
            for r in containment_pairs(df, threshold=0.5).collect()}
    capped = {(r.contained_id, r.container_id)
              for r in containment_pairs(df, threshold=0.5,
                                         max_shingle_df=4).collect()}
    assert capped <= full


def test_registered_containment_twins_share_one_shingle_base(spark):
    """The containment twin pair's REGISTERED wiring: the production
    0.8 query and the df-capped candidate pass must read the ONE
    shared shingle-set build (_containment_base) — the word_shingles
    extraction (the corpus-scan-shaped cost) runs once across the
    pair and lands in shared_builds for bench attribution. Also pins
    the base= path against the inline extraction: identical pairs."""
    from map_reduce_mongodb_spark import cache, queries
    from map_reduce_mongodb_spark.operators.dedup import containment_pairs

    cache.clear_shared()
    try:
        a = queries.QUERIES["containment_pairs"](spark, SF_DIR)
        got = {tuple(r) for r in a.collect()}
        assert len(got) > 0
        keys = [k for k in cache.shared_build_seconds()
                if k.startswith("containment_sh3_")]
        assert len(keys) == 1
        b = queries.QUERIES["containment_pairs_capped"](spark, SF_DIR)
        assert b.count() >= 0  # reuses the same materialization
        assert [k for k in cache.shared_build_seconds()
                if k.startswith("containment_sh3_")] == keys
        inline = {tuple(r) for r in containment_pairs(
            table(spark, "documents", SF_DIR),
            threshold=0.8, shingle_n=3).collect()}
        assert got == inline
    finally:
        cache.clear_shared()


def test_shared_token_runs_exact_lengths_and_alignment(spark):
    """Diagonal seed-and-extend must report the EXACT shared-run
    length at an arbitrary (non-chunk-aligned) offset: a 20-token
    passage planted at offset 7 in one doc and offset 0 in another is
    one run of exactly 20 tokens; a doc sharing nothing stays out."""
    from map_reduce_mongodb_spark.operators.dedup import (
        shared_token_runs)

    passage = " ".join(f"p{i}" for i in range(20))
    filler_a = " ".join(f"alpha{i}" for i in range(7))
    filler_b = " ".join(f"beta{i}" for i in range(25))
    filler_c = " ".join(f"gamma{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, f"{filler_a} {passage} {filler_b}"),
         (2, f"{passage} tail0 tail1 tail2"),
         (3, filler_c)],
        "doc_id long, text string")
    rows = {(r.id_a, r.id_b): (r.max_run_tokens, r.n_runs)
            for r in shared_token_runs(
                docs, gram_n=8, min_run_tokens=10).collect()}
    assert rows == {(1, 2): (20, 1)}


def test_shared_token_runs_two_separate_runs_counted(spark):
    """Two disjoint shared passages on different diagonals are two
    runs; max reports the longer one."""
    from map_reduce_mongodb_spark.operators.dedup import (
        shared_token_runs)

    run1 = " ".join(f"x{i}" for i in range(12))
    run2 = " ".join(f"y{i}" for i in range(16))
    mid_a = " ".join(f"a{i}" for i in range(9))
    mid_b = " ".join(f"b{i}" for i in range(13))
    docs = spark.createDataFrame(
        [(1, f"{run1} {mid_a} {run2}"),
         (2, f"{run2} {mid_b} {run1}")],
        "doc_id long, text string")
    rows = {(r.id_a, r.id_b): (r.max_run_tokens, r.n_runs)
            for r in shared_token_runs(
                docs, gram_n=8, min_run_tokens=12).collect()}
    assert rows == {(1, 2): (16, 2)}


def test_shared_token_runs_df_cap_splits_runs_deterministically(spark):
    """The stop-gram cap contract: a shared run THROUGH a gram whose
    corpus-wide posting count exceeds max_gram_df reports as two
    shorter runs (conservative split, never a longer merge). Build a
    hot gram by repeating one 8-token phrase across many docs."""
    from map_reduce_mongodb_spark.operators.dedup import (
        shared_token_runs)

    hot = " ".join(f"h{i}" for i in range(8))       # the hot 8-gram
    left = " ".join(f"l{i}" for i in range(10))
    right = " ".join(f"r{i}" for i in range(10))
    shared = f"{left} {hot} {right}"                # 28-token run
    rows = [(1, shared + " " + " ".join(f"a{i}" for i in range(5))),
            (2, shared + " " + " ".join(f"b{i}" for i in range(5)))]
    # 30 unrelated docs each containing ONLY the hot phrase → its
    # posting count exceeds the cap; the l/r grams stay rare.
    rows += [(100 + i, hot) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {(r.id_a, r.id_b): (r.max_run_tokens, r.n_runs)
                for r in shared_token_runs(
                    docs, gram_n=8, min_run_tokens=10,
                    max_gram_df=10_000).collect()
                if r.id_a == 1 and r.id_b == 2}
    assert uncapped == {(1, 2): (28, 1)}

    capped = {(r.id_a, r.id_b): (r.max_run_tokens, r.n_runs)
              for r in shared_token_runs(
                  docs, gram_n=8, min_run_tokens=10,
                  max_gram_df=10).collect()
              if r.id_a == 1 and r.id_b == 2}
    # dropping the single hot gram splits the 28-token run into the
    # two flanks, each still >= gram_n..: left flank l0..l9+h0..h6 ≡
    # grams seeded from positions 1..10 → 10+7=17 tokens; right flank
    # likewise 17 (h1..h7+r0..r9). Both survive min_run_tokens=10.
    assert capped == {(1, 2): (17, 2)}


def test_containment_prefix_filter_matches_bruteforce(spark):
    """r13 internals change: the uncapped path generates candidates
    via an AllPairs df-ordered PREFIX index + exact array_intersect
    verify instead of a full posting join. Pin it against a pure-
    Python all-pairs reference on a corpus built to stress the filter:
    exact duplicates, a planted excerpt, near-threshold pairs, and
    minimum-length (single-shingle) docs — any missed candidate would
    show up as a missing pair here."""
    from map_reduce_mongodb_spark.operators.dedup import containment_pairs

    quote = "one two three four five six seven eight nine ten"
    page = ("lead in words " + quote + " trailing words here "
            + " ".join(f"f{i}" for i in range(30)))
    docs = [
        (1, quote),
        (2, page),
        (3, quote),                       # exact duplicate of 1
        (4, "one two three"),             # single shingle, inside 1
        (5, "x y z"),                     # single shingle, no overlap
        (6, quote + " eleven twelve"),    # superset of 1
        (7, "three four five six seven eight nine ten zzz"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def shingles(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    sh = {d: shingles(t) for d, t in docs}
    for threshold in (0.8, 0.5):
        want = set()
        for a in sh:
            for b in sh:
                if a == b:
                    continue
                i = len(sh[a] & sh[b])
                if i and round(i / len(sh[a]), 6) >= threshold:
                    want.add((a, b, round(i / len(sh[a]), 6)))
        got = {(r.contained_id, r.container_id, r.containment)
               for r in containment_pairs(
                   df, threshold=threshold).collect()}
        assert got == want, (threshold, got ^ want)
