"""Deduplication operators for the training-data pipeline: exact,
MinHash+LSH, SimHash, n-gram Jaccard, containment and winnowing.

Scale design (the point of each choice):

- **Exact** is a hash-groupBy on a fingerprint — one shuffle keyed by
  md5, uniform by construction (no skew), map-side partial agg.
- **MinHash+LSH** avoids the O(n²) pair space: signatures are computed
  per row (narrow), banded, and candidates come from a self-join on
  (band_id, band_hash) buckets — the shuffle is keyed by bucket, and
  only bucket-cohabitants are ever paired. Verification (true Jaccard)
  runs only on candidates.
- **SimHash** gives a single 32-bit fingerprint; near-dups differ in
  few bits. Bucketing on bit-masked prefixes turns Hamming search into
  equality joins.

One pipeline per family; the hash lane is its only fork. ``hasher``
picks the lane wherever a family has two: ``"md5"`` keeps shingles as
gram strings and hashes with md5, so every step is reproducible in
DuckDB and the registered queries on it are oracle-checked;
``"xxhash64"`` hashes word tuples to 8-byte longs, Spark-only and
several times cheaper per gram. Everything else — shingle table,
candidate generation, verification — is the same code on both lanes,
so the oracle-checked md5 queries certify the code the xxhash64 lane
runs. Hashes are Spark's deterministic builtins: runs are
reproducible, with no randomness at runtime.

Everything is DataFrame-native (arrays + lambda expressions); no Python
UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import StringType

from map_reduce_mongodb_spark.cache import tracked_persist
from map_reduce_mongodb_spark.functions.text import (
    fingerprint,
    hashed_word_shingles,
    sliding,
    word_ngrams,
    word_shingles,
    words,
)


def _hashed(hasher: str) -> bool:
    """True on the xxhash64 lane, False on the md5 lane."""
    if hasher not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hasher: {hasher!r}")
    return hasher == "xxhash64"


def _shingle_table(df: DataFrame, text_col: str, id_col: str,
                   shingle_n: int, hasher: str = "md5",
                   extra: tuple[Column, ...] = ()) -> DataFrame:
    """``(id, sh, *extra)``: each document's DISTINCT word-shingle set,
    documents without a shingle dropped — the table every
    set-similarity operator here starts from. ``sh`` holds gram
    strings on the md5 lane and xxhash64 grams on the xxhash64 lane
    (``hashed_word_shingles``: no gram string is ever built, and joins
    move 8-byte keys)."""
    shingles = hashed_word_shingles if _hashed(hasher) else word_shingles
    return (df.select(F.col(id_col),
                      shingles(F.col(text_col), shingle_n).alias("sh"),
                      *extra)
            .filter(F.size("sh") > 0))


def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via normalized-md5 fingerprint: one row per distinct
    content with the survivor id (min id) and the duplicate count."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"),
             F.count(F.lit(1)).alias("n_dups"))
    )


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Return df with only the survivor row per distinct content.
    Implemented as a ranking filter (no join back): min_by over the
    fingerprint group via window-free groupBy + semi join would need a
    join anyway, so we use max_by of the full struct — one shuffle."""
    fp = fingerprint(F.col(text_col)).alias("fp")
    survivors = (
        df.withColumn("fp", fp)
        .groupBy("fp")
        .agg(F.min_by(F.struct(df.columns), id_col).alias("row"))
        .select("row.*")
    )
    return survivors


def minhash_index(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", num_hashes: int = 16,
                  shingle_n: int = 3,
                  hasher: str = "xxhash64") -> DataFrame:
    """The MinHash index: one ``(id, sh, sig)`` row per document with a
    shingle — its distinct shingle set (what verification scores) and
    its ``num_hashes`` signature lanes (what banding buckets). Narrow,
    one pass per row. Materialize it once (``tracked_persist``, or
    ``cache.shared_parquet`` across queries); :func:`minhash_pairs`,
    :func:`minhash_incremental_pairs` and :func:`minhash_estimate` all
    take it.

    Each per-shingle digest funds several 32-bit lanes:

    - ``xxhash64``: sig[2i] / sig[2i+1] = min over shingles of the
      high / low 32 bits of xxhash64(shingle, i) — 16 lanes cost 8
      hash calls per shingle.
    - ``md5``: sig[4i+j] = min over shingles of hex digits
      [8j+1, 8j+8] of md5(shingle || '#i') (lexicographic min of
      fixed-width hex == numeric min) — 16 lanes cost 4 md5 calls per
      shingle, and the lanes are reproducible in DuckDB.

    Expression hygiene (matters ×100 in wall-clock): the shingle array
    — and then each per-seed digest array — is materialized as a
    COLUMN in its own projection before the lane folds reference it.
    Referencing a raw *expression* n× invites Catalyst to inline its
    whole definition into every fold — measured 25× slowdown at sf0.1
    before this split (and re-hashing per lane without the digest
    split)."""
    hashed = _hashed(hasher)
    per_digest = 2 if hashed else 4
    if num_hashes % per_digest != 0:  # not assert: stripped under -O,
        # which would silently drop lanes
        raise ValueError(f"num_hashes must be a multiple of {per_digest} "
                         f"on the {hasher} lane (got {num_hashes})")
    n_digests = num_hashes // per_digest

    # NB: the transform lambdas MUST be unary. A two-parameter lambda
    # (e.g. `lambda g, i=i: ...`) is treated by PySpark as the
    # (element, index) form and the array INDEX silently overrides the
    # default — the closure factories below bind the loop variable
    # without adding a parameter.
    def _digest(i: int) -> Column:
        if hashed:
            seed = F.lit(i)
            return F.transform(F.col("sh"), lambda s: F.xxhash64(s, seed))
        suffix = F.lit(f"#{i}")
        return F.transform(F.col("sh"),
                           lambda g: F.md5(F.concat(g, suffix)))

    def _lane(i: int, j: int) -> Column:
        h = F.col(f"h{i}")
        if not hashed:
            pos = 8 * j + 1
            return F.array_min(F.transform(h, lambda x: F.substring(x, pos, 8)))
        if j == 0:
            return F.array_min(F.transform(
                h, lambda x: F.shiftrightunsigned(x, 32)))
        return F.array_min(F.transform(
            h, lambda x: x.bitwiseAND(F.lit(0xFFFFFFFF))))

    digests = _shingle_table(df, text_col, id_col, shingle_n, hasher).select(
        F.col(id_col), F.col("sh"),
        *[_digest(i).alias(f"h{i}") for i in range(n_digests)])
    return digests.select(
        F.col(id_col), F.col("sh"),
        F.array(*[_lane(i, j) for i in range(n_digests)
                  for j in range(per_digest)]).alias("sig"))


def _band_buckets(index: DataFrame, id_col: str, num_hashes: int,
                  bands: int) -> DataFrame:
    """``(id, band, bucket)``: one LSH bucket per band, a hash of the
    band's slice of the signature — ``F.hash`` of the lanes on the
    xxhash64 lane, md5 of the concatenated hex lanes on the md5 lane
    (read off the index's lane type, so a consumer cannot disagree
    with the index it is given)."""
    rows_per_band = num_hashes // bands
    md5_lanes = isinstance(index.schema["sig"].dataType.elementType,
                           StringType)

    def _bucket(b: int) -> Column:
        lanes = [F.element_at("sig", b * rows_per_band + r + 1)
                 for r in range(rows_per_band)]
        # concat_ws, not concat: the same string for non-null lanes,
        # but never null, so Catalyst infers no extra isnotnull filter
        # and both lanes keep one plan
        return (F.md5(F.concat_ws("", *lanes)) if md5_lanes
                else F.hash(*lanes))

    return index.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
            for b in range(bands)
        ])).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def _candidates_from_banded(banded: DataFrame, id_col: str,
                            max_bucket_size: int | None = None
                            ) -> DataFrame:
    """Distinct (id_a < id_b) bucket-cohabitant pairs.

    ``max_bucket_size`` is the SKEW defense for corpus scale: a hot
    bucket of |B| members (boilerplate/empty-ish documents whose band
    signatures collide) contributes |B|² join output — one
    pathological bucket can dominate the whole stage. Capping drops
    buckets with more than ``max_bucket_size`` members BEFORE the
    self-join (one extra count aggregate on the narrow banded frame,
    broadcast back as an ANTI filter on the HOT buckets — the hot
    list is tiny by definition, |buckets| > cap, where the
    complementary OK list scales with the corpus and could never
    broadcast at 100 TB) — the standard production trade:
    members of a mega-bucket are near-certainly boilerplate whose
    pairs the verify stage would reject or downstream dedup would
    collapse anyway, and any pair sharing a second, smaller bucket is
    still found. Off (None) by default: at test scale every bucket is
    small, and the oracle-checked queries must keep exact semantics.
    """
    if max_bucket_size is not None:
        hot = (banded.groupBy("band", "bucket")
               .agg(F.count(F.lit(1)).alias("_n"))
               .filter(F.col("_n") > max_bucket_size)
               .select("band", "bucket"))
        # PRECONDITION: band (a literal) and bucket (F.hash, or md5 of
        # concat_ws) are non-null today, which is what makes this
        # anti-join on the HOT list equivalent to the old semi-join on
        # the OK list — left_anti KEEPS null-keyed rows where left_semi
        # dropped them, so a future banding change that can emit NULL
        # buckets would silently bypass the cap. The isNotNull guard
        # pins the old semantics either way.
        banded = (banded.where(F.col("bucket").isNotNull())
                  .join(F.broadcast(hot), ["band", "bucket"],
                        "left_anti"))
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_pairs(index: DataFrame, id_col: str = "doc_id",
                  threshold: float = 0.7, num_hashes: int = 16,
                  bands: int = 4,
                  max_bucket_size: int | None = None) -> DataFrame:
    """LSH candidates from a :func:`minhash_index` verified by TRUE
    shingle Jaccard ≥ threshold — only candidate pairs are verified
    (the scale win vs all-pairs). ``max_bucket_size``: optional
    hot-bucket cap (the corpus-scale skew defense — see
    _candidates_from_banded)."""
    cands = _candidates_from_banded(
        _band_buckets(index, id_col, num_hashes, bands), id_col,
        max_bucket_size)
    return _verify_jaccard(cands, index, id_col, threshold)


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", threshold: float = 0.7,
                        num_hashes: int = 16, bands: int = 4,
                        shingle_n: int = 3,
                        max_bucket_size: int | None = None,
                        hasher: str = "xxhash64") -> DataFrame:
    """MinHash+LSH near-dup pairs of ``df``: one persisted
    :func:`minhash_index` pass feeds banding AND verification
    (:func:`minhash_pairs`)."""
    index = tracked_persist(minhash_index(df, text_col, id_col, num_hashes,
                                          shingle_n, hasher))
    return minhash_pairs(index, id_col, threshold, num_hashes, bands,
                         max_bucket_size)


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", threshold: float = 0.5,
                        shingle_n: int = 3,
                        block_col: str | None = "lang",
                        hasher: str = "md5") -> DataFrame:
    """EXACT n-gram Jaccard pairs (within blocks, default same lang) via
    the inverted-index algorithm — the scalable exact formulation:

        explode shingles → self-join on the shingle itself → the number
        of join hits per (id_a, id_b) IS |A∩B| → Jaccard from sizes.

    Versus materializing shingle arrays and running ``array_intersect``
    per candidate pair (O(pairs·|A|) with per-call hash-set allocation —
    measured 5-8× slower even at sf0.1), this shape:
    - shuffles flat (shingle, id) tokens, never arrays;
    - only pairs that SHARE ≥1 shingle are ever considered (random
      pairs share none, so the quadratic blowup never materializes);
    - partitions by shingle — high cardinality, skew-bounded by a
      shingle's document frequency (df-pruning slots in naturally at
      larger scale).
    Pairs with J ≥ threshold > 0 always share a shingle, so the result
    is exactly the brute-force answer.

    ``hasher="xxhash64"``: the Spark-only lane — the posting join
    ships fixed 8-byte longs instead of ~20-30-byte grams. A 64-bit
    collision between two distinct shingles could perturb a count by 1
    (probability ~n_shingles²·2⁻⁶⁴ — negligible; equality to the
    exact string join is pinned at test scale), so the default stays
    the md5 lane's exact strings for the oracle-checked query."""
    blk_col = (F.col(block_col).alias("blk"),) if block_col else ()
    # persisted: FOUR consumers (tokens a/b sides, sizes sz_a/sz_b
    # sides) — unpersisted, each re-scans the corpus and re-runs the
    # shingle split (the dominant narrow-stage cost; verified 4 scans,
    # 0 reused exchanges in the physical plan). Same boundary the
    # minhash/prefix siblings draw.
    base = tracked_persist(_shingle_table(df, text_col, id_col, shingle_n,
                                          hasher, blk_col))
    sizes = base.select(F.col(id_col), F.size("sh").alias("sz"))
    blk = ["blk"] if block_col else []
    tokens = base.select(F.col(id_col), *blk,
                         F.explode("sh").alias("g"))
    a = tokens.select(F.col(id_col).alias("id_a"), *blk, "g")
    b = tokens.select(F.col(id_col).alias("id_b"), *blk, "g")
    inter = (
        a.join(b, blk + ["g"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_sz"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sa"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sb"))
    return (
        # no broadcast hint: sizes has |docs| rows — tiny here, but at
        # corpus scale AQE must be free to pick the join strategy
        inter.join(sz_a, "id_a").join(sz_b, "id_b")
        .withColumn("jaccard",
                    F.round(F.col("inter_sz").cast("double")
                            / (F.col("sa") + F.col("sb")
                               - F.col("inter_sz")).cast("double"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", threshold: float = 0.8,
                      shingle_n: int = 3,
                      max_shingle_df: int | None = None,
                      base: DataFrame | None = None) -> DataFrame:
    """DIRECTIONAL shingle-containment pairs: c(A→B) = |A∩B| / |A| ≥
    threshold — the excerpt/quote/boilerplate-inclusion detector that
    symmetric Jaccard structurally misses (a 50-shingle quote inside a
    5000-shingle page has J ≈ 0.01 but containment 1.0). Emits
    (contained_id, container_id, containment); both directions of each
    co-occurring pair are evaluated from ONE intersection count.

    Candidate generation (r13): an AllPairs-style PREFIX FILTER — only
    each doc's rarest (sz − ⌈t·sz⌉ + slack) shingles are indexed
    against full posting lists, and the surviving candidate pairs are
    verified EXACTLY with one array_intersect per pair (see the inline
    proof sketch; the length-ratio prefilter of
    :func:`ngram_jaccard_pairs` does NOT apply here because
    containment is length-asymmetric by design). The skew defense at
    corpus scale remains ``max_shingle_df``: drop postings for
    shingles appearing in more than that many docs (stop-shingle
    pruning — a shingle shared by half the corpus identifies nothing
    and quadratically dominates the join). Pruning can only LOWER a
    containment score, never raise it: with df-capped postings the
    result is a superset-safe filter to run BELOW threshold, or exact
    when no shingle exceeds the cap (the tested configuration leaves
    it off). The capped path keeps the full posting join — its oracle
    contract counts CAPPED intersections, which an exact-array verify
    would overstate.

    ``base``: precomputed ``(id_col, sh)`` distinct-shingle-set table
    (the ``_shingle_table`` extraction below, typically materialized
    once via ``cache.shared_parquet`` when several configurations —
    production threshold, df-capped candidate pass — scan the same
    corpus: the shingle table is the piece a 100 TB pipeline writes
    to storage once). When given, ``df``/``text_col`` AND
    ``shingle_n`` are all unused — the base's own shingling (whatever
    n it was built with) defines the scores, so callers must not pass
    a conflicting ``shingle_n`` expecting it to apply."""
    if base is None:
        # persisted for the same reason as ngram_jaccard_pairs: four
        # consumers (tokens a/b, sizes sz_a/sz_b) would each re-run
        # the shingle extraction. A caller-supplied base is already a
        # materialized leaf (shared parquet) — no second boundary.
        base = tracked_persist(
            _shingle_table(df, text_col, id_col, shingle_n))
    tokens = base.select(F.col(id_col), F.explode("sh").alias("g"))
    if max_shingle_df is not None:
        hot = (tokens.groupBy("g")
               .agg(F.count(F.lit(1)).alias("df"))
               .filter(F.col("df") > max_shingle_df)
               .select("g"))
        tokens = tokens.join(F.broadcast(hot), "g", "left_anti")
        # df-capped scores count CAPPED intersections (that IS the
        # capped twin's oracle contract), so the exact-array verify of
        # the prefix-filter path below cannot apply here — the capped
        # configuration keeps the full posting join.
        a = tokens.select(F.col(id_col).alias("id_a"), "g")
        b = tokens.select(F.col(id_col).alias("id_b"), "g")
        inter = (a.join(b, "g")
                 .filter(F.col("id_a") < F.col("id_b"))
                 .groupBy("id_a", "id_b")
                 .agg(F.count(F.lit(1)).alias("i")))
        sizes = base.select(F.col(id_col), F.size("sh").alias("sz"))
        sz_a = sizes.select(F.col(id_col).alias("id_a"),
                            F.col("sz").alias("sa"))
        sz_b = sizes.select(F.col(id_col).alias("id_b"),
                            F.col("sz").alias("sb"))
        both = inter.join(sz_a, "id_a").join(sz_b, "id_b")
    else:
        # AllPairs-style PREFIX FILTER (r13, guide §3.2/§2.3 — shrink
        # the join input before the exchange): a pair can pass either
        # direction only when i ≥ threshold·min(sa, sb), so it must
        # share a shingle inside the contained side's PREFIX — the
        # first (sz - ⌈threshold·sz⌉ + 1) shingles in a fixed per-doc
        # order (pigeonhole: all-shared-in-suffix bounds i below
        # threshold·sz). Candidate generation therefore joins only
        # PREFIX postings (rarest-df-first order, the AllPairs
        # canonical order that minimizes collisions) against full
        # posting lists, then verifies candidates EXACTLY with one
        # array_intersect per candidate pair against the materialized
        # shingle arrays. Exact-safe: candidates are a proven superset
        # of every pair the threshold filter can emit, and the verify
        # recomputes i = |A∩B| from the same distinct arrays the
        # posting join counted. Measured at sf0.1: posting-join output
        # 1.27 M rows → 308 K, distinct candidate pairs 1.13 M → 181 K
        # (6.3×) for the identical 512-row result.
        dfc = tokens.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        ranked = (tokens.join(dfc, "g")
                  .groupBy(id_col)
                  .agg(F.array_sort(F.collect_list(F.struct("df", "g")))
                       .alias("o")))
        # prefix length sz - ceil(sz·(t − 1e-6)) + 2, clamped to
        # [1, sz]: the −1e-6 absorbs the final filter's round(·, 6)
        # (a pair at i/sz within 5e-7 below t still rounds up to
        # pass), the +2 (vs the theorem's +1) absorbs float-ceil
        # upslop — both err toward a LONGER prefix, never a missed
        # pair.
        plen = F.greatest(
            F.lit(1),
            F.least(F.size("o"),
                    (F.size("o")
                     - F.ceil(F.size("o") * F.lit(threshold - 1e-6))
                     + 2).cast("int")))
        ptok = (ranked.select(F.col(id_col).alias("id_x"),
                              F.explode(F.slice("o", F.lit(1), plen))
                              .alias("ps"))
                .select("id_x", F.col("ps.g").alias("g")))
        cand = (ptok.join(tokens.select(F.col(id_col).alias("id_y"),
                                        "g"), "g")
                .filter(F.col("id_x") != F.col("id_y"))
                .select(F.least("id_x", "id_y").alias("id_a"),
                        F.greatest("id_x", "id_y").alias("id_b"))
                .distinct())
        ba = base.select(F.col(id_col).alias("id_a"),
                         F.col("sh").alias("sh_a"))
        bb = base.select(F.col(id_col).alias("id_b"),
                         F.col("sh").alias("sh_b"))
        both = (cand.join(ba, "id_a").join(bb, "id_b")
                .select("id_a", "id_b",
                        F.size(F.array_intersect("sh_a", "sh_b"))
                        .cast("long").alias("i"),
                        F.size("sh_a").alias("sa"),
                        F.size("sh_b").alias("sb")))
    # Emit BOTH directions from each co-occurring pair row with one
    # explode — NOT fwd.union(rev): a union re-executes each branch's
    # whole subtree, so the posting join (the dominant cost at corpus
    # scale) would run twice per query (observed: 2× the scans and
    # exchanges in the formatted plan).
    return (both.select(F.explode(F.array(
                F.struct(F.col("id_a").alias("contained_id"),
                         F.col("id_b").alias("container_id"),
                         F.round(F.col("i").cast("double")
                                 / F.col("sa"), 6).alias("containment")),
                F.struct(F.col("id_b").alias("contained_id"),
                         F.col("id_a").alias("container_id"),
                         F.round(F.col("i").cast("double")
                                 / F.col("sb"), 6).alias("containment")),
            )).alias("p"))
            .select("p.*")
            .filter(F.col("containment") >= threshold))


def _simhash_from_hashes(exploded: DataFrame, id_col: str,
                         bits: int) -> DataFrame:
    """Assemble SimHash fingerprints from exploded (id, h) shingle
    hashes: ONE vectorized hash-agg with `bits` conditional sums, then
    sign-bit assembly. (The tempting no-shuffle alternative — `bits`
    array folds per row — evaluates the lambda interpreter per element
    per bit: measured ~20× slower. The shuffle here is
    |docs|·|shingles| small ints with map-side partial aggregation,
    which is cheap and scales linearly.)"""
    bit_sums = exploded.groupBy(id_col).agg(*[
        F.sum(F.when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1)
              .otherwise(-1)).alias(f"b{j}")
        for j in range(bits)
    ])
    fp = None
    for j in range(bits):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp.bitwiseOR(bit)
    return bit_sums.select(id_col, fp.cast("long").alias("simhash"))


def ngram_jaccard_pairs_prefix(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id",
                               threshold: float = 0.5,
                               shingle_n: int = 3,
                               max_df: int | None = None) -> DataFrame:
    """EXACT n-gram Jaccard pairs via PREFIX FILTERING (the
    AllPairs/PPJoin family) — the document-frequency scale lever on
    top of the plain inverted index:

    order every document's shingles by global document frequency
    (rarest first, shingle text as tie-break); for J ≥ t any
    qualifying pair must have intersection ≥ ⌈t·|x|⌉, so it must share
    a shingle within each side's first |x| - ⌈t·|x|⌉ + 1 ordered
    shingles. Only those PREFIX postings enter the self-join — the
    ubiquitous high-df shingles that dominate the plain inverted
    index's join volume sort to the END of every prefix and mostly
    drop out. A size filter (t·|x| ≤ |y| ≤ |x|/t) prunes candidates
    further; full-array verification keeps the result exactly equal to
    the brute-force answer (pinned in tests).

    Cost shape vs ngram_jaccard_pairs: one extra narrow aggregation
    (global df counts) + one window per doc, in exchange for a prefix
    join whose volume shrinks as (1-t) — at t=0.7 only ~30% of each
    posting list joins, and the worst (most frequent) shingles are
    exactly the ones excluded.

    ``max_df`` (the web-scale stop-shingle lever): when set, postings
    for shingles appearing in more than ``max_df`` documents are
    dropped from CANDIDATE GENERATION entirely, capping every posting
    list — the worst-case join volume becomes O(max_df²) per shingle
    regardless of corpus skew (boilerplate headers, licence blurbs).
    Verification still scores FULL shingle sets, so reported Jaccard
    values stay exact and no false positives can appear; the trade is
    RECALL only — a qualifying pair is missed iff every shingle its
    prefixes share is above the df cap. ``None`` (default) keeps the
    algorithm exactly equal to the brute-force answer (pinned in
    tests); with a cap the result is a subset, and planted near-dups
    (rare shingles by construction) survive (also pinned)."""
    base = tracked_persist(_shingle_table(df, text_col, id_col, shingle_n))
    tokens = base.select(F.col(id_col), F.size("sh").alias("sz"),
                         F.explode("sh").alias("g"))
    dfreq = tokens.groupBy("g").agg(F.count(F.lit(1)).alias("gdf"))
    w = Window.partitionBy(id_col).orderBy(F.asc("gdf"), F.asc("g"))
    ranked = tokens.join(dfreq, "g").withColumn(
        "r", F.row_number().over(w))
    prefix = ranked.filter(
        F.col("r") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz"))
        + F.lit(1))
    if max_df is not None:
        prefix = prefix.filter(F.col("gdf") <= F.lit(max_df))
    a = prefix.select(F.col(id_col).alias("id_a"), "g",
                      F.col("sz").alias("sz_a"))
    b = prefix.select(F.col(id_col).alias("id_b"), "g",
                      F.col("sz").alias("sz_b"))
    cand = (
        a.join(b, "g")
        .filter((F.col("id_a") < F.col("id_b"))
                & (F.col("sz_b") >= F.ceil(F.lit(threshold) * F.col("sz_a")))
                & (F.col("sz_b") * F.lit(threshold) <= F.col("sz_a")))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_jaccard(cand, base, id_col, threshold)


def simhash_md5(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", bits: int = 32,
                shingle_n: int = 2) -> DataFrame:
    """SimHash with ENGINE-PORTABLE shingle hashes: the per-shingle
    32-bit hash is the first 8 hex chars of md5(shingle) read as an
    unsigned int — identical in Spark (``conv(_, 16, 10)``) and DuckDB
    (``CAST('0x' || _ AS BIGINT)``), so fingerprints are reproducible
    in SQL and the whole operator is oracle-checked."""
    exploded = (
        _shingle_table(df, text_col, id_col, shingle_n)
        .select(F.col(id_col), F.explode("sh").alias("g"))
        .select(F.col(id_col),
                F.conv(F.substring(F.md5("g"), 1, 8), 16, 10)
                .cast("long").alias("h"))
    )
    return _simhash_from_hashes(exploded, id_col, bits)


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", gram_n: int = 3,
                        window: int = 4,
                        hasher: str = "md5") -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash selection
    scheme from Schleimer/Wilkerson/Aiken's MOSS paper): hash every
    word n-gram, slide a window of `window` consecutive gram hashes,
    keep each window's minimum, emit the distinct selected hashes as
    (id, fp) rows.

    Guarantee inherited from the scheme: any shared run of
    window+gram_n-1 consecutive words between two documents shares at
    least one selected fingerprint — so fingerprint overlap finds
    copied PASSAGES (ordered runs), which Jaccard-over-sets cannot
    distinguish from bag-of-words similarity.

    Engine-portable hashes (md5 hex8 → unsigned int, same as
    simhash_md5) make the whole operator DuckDB-reproducible.

    Shape notes: grams stay ORDERED (no array_distinct before
    windowing — position matters). The window min is NOT
    ``transform(sequence(...), i -> array_min(slice(h, i, w)))``:
    ``h`` there is single-reference, so CollapseProject inlines its
    md5-transform definition into the lambda body and the WHOLE hash
    array re-evaluates per window position — O(len²) md5 per doc,
    measured 40s at sf0.1. Instead the min is `least()` over
    ``text.sliding`` (``arrays_zip`` of `window` shifted slices, the
    gram builder's pattern): h is multi-referenced (CollapseProject
    backs off) and each element is touched O(window) times. 40s → ~2s.

    ``hasher``: ``"md5"`` (default) is the engine-portable,
    oracle-checked lane; ``"xxhash64"`` hashes each gram straight from
    its word tuple — same selection scheme over 64-bit integer hashes,
    ~5× cheaper per gram (md5 is a cryptographic digest; winnowing
    only needs a uniform hash). The winnowing guarantee (a shared run
    of window+gram_n-1 words shares ≥1 selected fingerprint) holds for
    ANY hash, so that lane is gated by the same planted-passage tests;
    its fingerprints just aren't SQL-reproducible (rows-only check)."""
    hashed = _hashed(hasher)
    grams = word_ngrams(words(F.col(text_col)), gram_n, hashed)
    if hashed:
        hashes = (df.select(F.col(id_col), grams.alias("h"))
                  .filter(F.size("h") >= window))
    else:
        # hex8 kept as STRING: lexicographic min of fixed-width
        # lowercase hex == numeric min, and skipping conv() saves a
        # pass (~30% of the hash stage).
        hashes = (df.select(F.col(id_col), grams.alias("g"))
                  .filter(F.size("g") >= window)
                  .select(F.col(id_col),
                          F.transform("g", lambda x: F.substring(
                              F.md5(x), 1, 8)).alias("h")))
    mins = hashes.select(
        F.col(id_col),
        F.array_distinct(sliding(F.col("h"), window,
                                 lambda fs: F.least(*fs))).alias("fps"))
    return mins.select(F.col(id_col), F.explode("fps").alias("fp"))


def winnow_pair_search(fps: DataFrame, min_shared: int = 3,
                       id_col: str = "doc_id") -> DataFrame:
    """Pair search over an EXISTING (id, fp) fingerprint frame:
    inverted-index self-join on the fingerprint, count shared hits per
    pair, keep pairs with ≥ `min_shared`. Split out of
    :func:`winnow_dup_pairs` so a once-materialized fingerprint table
    (the production layout — fingerprints are written to storage once
    and consumed by listing AND pair search) can feed it directly."""
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_dup_pairs(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", gram_n: int = 3,
                     window: int = 4, min_shared: int = 3,
                     hasher: str = "md5") -> DataFrame:
    """Passage-copy candidate pairs: documents sharing ≥ `min_shared`
    winnowing fingerprints, with the shared count. Inverted-index
    shape (identical scale story to ngram_jaccard_pairs): explode
    (fp, id) postings, self-join on the fingerprint itself, count hits
    per pair — only pairs that actually share a fingerprint are ever
    materialized, shuffle keyed by fp. ``hasher`` as in
    :func:`winnow_fingerprints`."""
    fps = tracked_persist(
        winnow_fingerprints(df, text_col, id_col, gram_n, window, hasher))
    return winnow_pair_search(fps, min_shared, id_col)


def simhash_pairs(fps: DataFrame, max_hamming: int = 3, bits: int = 32,
                  id_col: str = "doc_id",
                  fp_col: str = "simhash") -> DataFrame:
    """Hamming-distance pair search over SimHash fingerprints — the
    operator that makes fingerprints actionable at scale (the classic
    block-split trick from Manku et al.'s near-duplicate paper,
    expressed as equality joins).

    Pigeonhole: two fingerprints within Hamming distance k must agree
    EXACTLY on at least one of k+1 disjoint bit blocks. So: split each
    fingerprint into k+1 blocks, explode to (block_id, block_value)
    rows, self-join on equality (shuffle keyed by block value — never
    an all-pairs expansion), then verify candidates with
    bit_count(xor) ≤ k. Returns (id_a, id_b, hamming).

    Scale: candidates per block are cohabitants of a 32/(k+1)-bit
    value — on non-adversarial corpora bucket sizes are geometrically
    small; verification is one codegen'd xor+popcount per candidate."""
    nb = max_hamming + 1
    # block j covers bit range [starts[j], starts[j+1])
    widths = [bits // nb + (1 if j < bits % nb else 0) for j in range(nb)]
    starts = [sum(widths[:j]) for j in range(nb)]
    blocks = [
        F.struct(
            F.lit(j).alias("blk"),
            F.shiftrightunsigned(F.col(fp_col), starts[j])
            .bitwiseAND(F.lit((1 << widths[j]) - 1)).alias("val"),
        )
        for j in range(nb)
    ]
    banded = fps.select(
        F.col(id_col), F.explode(F.array(*blocks)).alias("bb"),
    ).select(id_col, "bb.blk", "bb.val")
    left = banded.alias("l")
    right = banded.alias("r")
    cands = (
        left.join(right, ["blk", "val"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    a = fps.select(F.col(id_col).alias("id_a"), F.col(fp_col).alias("fp_a"))
    b = fps.select(F.col(id_col).alias("id_b"), F.col(fp_col).alias("fp_b"))
    return (
        cands.join(a, "id_a").join(b, "id_b")
        .withColumn("hamming",
                    F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _jaccard() -> Column:
    """Exact Jaccard of the ``sh_a``/``sh_b`` distinct-shingle arrays,
    rounded to 6 places: union = |a|+|b|−inter, valid because the
    shingle arrays are DISTINCT by construction (``_shingle_table``)
    — no array_union allocation per pair."""
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return F.round(inter / union, 6)


def _verify_jaccard(cands: DataFrame, base: DataFrame, id_col: str,
                    threshold: float) -> DataFrame:
    """True-Jaccard verification of candidate pairs against the
    ``(id, sh)`` distinct-shingle table — one definition for every
    candidate path (MinHash on either lane, the prefix filter)."""
    a = base.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(a, "id_a").join(b, "id_b")
        .withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_incremental_pairs(index: DataFrame, is_new: Column,
                              id_col: str = "doc_id",
                              threshold: float = 0.7,
                              num_hashes: int = 16,
                              bands: int = 4) -> DataFrame:
    """Corpus-delta dedup: near-dup pairs BETWEEN an arriving batch
    (rows where ``is_new(id)`` holds) and the standing corpus (the
    rest) — the shape every incremental ingestion pipeline runs, where
    re-pairing the whole corpus against itself per batch would be
    quadratic over time. The :func:`minhash_index` and its banding are
    shared with :func:`minhash_pairs`; only the candidate join changes:
    banded(new) × banded(corpus) on (band, bucket), so join volume
    scales with the BATCH, not the corpus. In production the corpus side's banded
    signatures are a persisted table appended per batch — here both
    sides derive from one scan.

    ``is_new``: Column predicate over `id_col` (e.g.
    ``F.col("doc_id") % 10 == 0``)."""
    banded = _band_buckets(index, id_col, num_hashes, bands)
    nb = banded.where(is_new).select(
        F.col(id_col).alias("id_a"), "band", "bucket")
    cb = banded.where(~is_new).select(
        F.col(id_col).alias("id_b"), "band", "bucket")
    cands = (nb.join(cb, ["band", "bucket"])
               .select("id_a", "id_b").distinct())
    return _verify_jaccard(cands, index, id_col, threshold)


def minhash_estimate(index: DataFrame, id_col: str = "doc_id",
                     num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Sketch-ACCURACY instrumentation for a :func:`minhash_index`:
    for every LSH candidate pair, the signature-based Jaccard ESTIMATE
    (matching lanes / num_hashes — the unbiased MinHash estimator)
    next to the exact shingle Jaccard and their absolute error.

    This is the measurement a pipeline owner runs before trusting a
    banding configuration at corpus scale: the estimator's observed
    error on real candidates tells you whether num_hashes is adequate
    for the threshold you filter at. Same join volume as the dedup
    pipeline itself (candidates only — never all pairs); signatures
    and shingle sets come from the one index. On an md5 index every
    column is DuckDB-reproducible."""
    cands = _candidates_from_banded(
        _band_buckets(index, id_col, num_hashes, bands), id_col)
    a = index.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"),
                     F.col("sig").alias("sig_a"))
    b = index.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"),
                     F.col("sig").alias("sig_b"))
    matches = sum(
        F.when(F.element_at("sig_a", i + 1) == F.element_at("sig_b", i + 1),
               1).otherwise(0)
        for i in range(num_hashes))
    return (
        cands.join(a, "id_a").join(b, "id_b")
        .withColumn("est_jaccard",
                    F.round(matches / F.lit(float(num_hashes)), 6))
        .withColumn("jaccard", _jaccard())
        .withColumn("abs_err",
                    F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")),
                            6))
        .select("id_a", "id_b", "est_jaccard", "jaccard", "abs_err")
    )


def shared_token_runs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", gram_n: int = 8,
                      min_run_tokens: int = 15,
                      max_gram_df: int = 50) -> DataFrame:
    """Exact shared-substring detection between documents — the
    measure behind suffix-array training-data dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"),
    re-expressed as distributed seed-and-extend instead of a global
    suffix array (which needs the whole corpus in one address space):

    1. **Seed**: every positional word `gram_n`-gram is a posting
       (gram, doc, pos). Two documents sharing ANY run of
       >= gram_n tokens share at least one seed.
    2. **Cap**: grams with more than `max_gram_df` postings
       corpus-wide are dropped (window count keyed by gram — same
       shuffle the join needs). This bounds the self-join fanout at
       Σ df² over surviving grams, exactly the stop-shingle treatment
       the Jaccard/LSH operators use; a shared run THROUGH a dropped
       ultra-common gram splits into two shorter reported runs
       (deterministic, conservative, mirrored in the oracle).
    3. **Extend**: matches land on diagonals d = pos_a - pos_b; a run
       of consecutive seeds on one diagonal is one shared substring.
       Gaps-and-islands (pos - row_number over the (pair, diagonal)
       window) merges them without any iterative pass, and a run of
       g consecutive seeds is g + gram_n - 1 shared tokens.

    Returns (id_a, id_b, max_run_tokens, n_runs) for pairs whose
    longest shared run is >= `min_run_tokens`.

    Scale: postings ≈ corpus token count (narrow); ONE shuffle keyed
    by gram serves both the df-cap window and the inverted-index
    self-join; the islands window shuffles only matched seeds (zero
    for unrelated documents). At 100 TB the gram key would be
    xxhash64(gram) instead of the string (8-byte shuffle keys; the
    md5/xxhash64 lanes prove that swap exact elsewhere in this
    module). Chunk-aligned `dup_passages` misses runs that
    straddle chunk boundaries; this sees every alignment."""
    base = (df.select(F.col(id_col).alias("id"),
                      words(F.col(text_col)).alias("ws"))
            .filter(F.size("ws") >= gram_n))
    grams = word_ngrams(F.col("ws"), gram_n)
    posted = (base.select("id", F.posexplode(grams).alias("p0", "gram"))
              .select("id", (F.col("p0") + 1).alias("pos"), "gram"))
    # tracked_persist: the self-join consumes the capped postings
    # TWICE. r11 correction of the r10 rationale (see plans.py's
    # retraction note): ReuseExchange DOES fold the two sides' gram
    # exchanges — lambda-bearing subtrees canonicalize fine on this
    # Spark version — so the scan+explode is paid once even without
    # the persist. What reuse does NOT cover is the work ABOVE the
    # exchange: the df-cap window + filter re-execute per consumer
    # (2 WindowExec over the reused shuffle output), and under AQE
    # the fold depends on runtime stage-cache timing. The persist
    # keeps the whole capped-postings computation single-execution by
    # construction and the plan deterministic (both join sides are
    # InMemoryTableScans — tests/test_plans.py::
    # test_shared_token_runs_builds_postings_once).
    keep = tracked_persist(
        posted
        .withColumn("gram_df",
                    F.count(F.lit(1)).over(Window.partitionBy("gram")))
        .filter(F.col("gram_df") <= max_gram_df)
        .drop("gram_df"))
    a = keep.select(F.col("id").alias("id_a"),
                    F.col("pos").alias("pa"), "gram")
    b = keep.select(F.col("id").alias("id_b"),
                    F.col("pos").alias("pb"), "gram")
    matches = (a.join(b, "gram")
               .filter(F.col("id_a") < F.col("id_b"))
               .select("id_a", "id_b", "pa", "pb",
                       (F.col("pa") - F.col("pb")).alias("d")))
    iw = Window.partitionBy("id_a", "id_b", "d").orderBy("pa")
    runs = (matches
            .withColumn("grp", F.col("pa") - F.row_number().over(iw))
            .groupBy("id_a", "id_b", "d", "grp")
            .agg((F.count(F.lit(1)) + F.lit(gram_n - 1))
                 .alias("run_tokens")))
    return (runs.filter(F.col("run_tokens") >= min_run_tokens)
            .groupBy("id_a", "id_b")
            .agg(F.max("run_tokens").cast("long").alias("max_run_tokens"),
                 F.count(F.lit(1)).cast("long").alias("n_runs")))
