"""Distributed connected components — dedup-cluster assignment.

A training-data pipeline that finds near-duplicate PAIRS (MinHash,
SimHash, exact Jaccard — operators/dedup.py) still needs to turn the
pair graph into CLUSTERS (pick one canonical doc per component, drop
the rest). The reference engine has no graph operator, so this is a
north-star extension; the algorithm is the alternating
large-star/small-star method of Kiveris et al., "Connected Components
in MapReduce and Beyond" (SOCC'14) — the standard shuffle-based CC
algorithm, converging in O(log^2 n) rounds (2-3 rounds in practice on
short-diameter dedup graphs).

Scale notes:
- Each half-round is one groupBy (per-node min neighbour) + one join
  (attach that min back to the edge list) — no collect_set, so a
  high-degree hub (the component minimum attracts all members) never
  materializes a giant array on one task; its edges stay distributed
  rows.
- Iterative DataFrame loops grow lineage without bound; each round is
  cut with ``localCheckpoint(eager=True)`` (executor-local blocks). On
  a real cluster with lineage-failure concerns, swap for
  ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()`` — same
  plan shape.
- Convergence is detected with a deterministic (count, xxhash64-xor)
  checksum of the edge set, OBSERVED during the checkpoint job itself
  (``DataFrame.observe`` + ``Observation``): one blocking job per
  round total. r6 ran a separate checksum aggregate after each
  checkpoint — two blocking jobs per round — and that many-small-jobs
  cadence was the bench's biggest load amplifier (the shared CC build
  degraded 4.8× under driver-machine contention while everything else
  held ~1.1×; VERDICT r6). Piggybacking halves the job count and the
  scheduling-latency exposure; round counts are recorded into the
  owning shared build's metrics (cache.note_build_metric) so any
  future regression is attributable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node u attaches its strictly-larger
    neighbours to m(u) = min(N(u) ∪ {u}).

    MULTISET semantics (r12): no trailing ``.distinct()`` — duplicate
    edges don't change any per-node min, every downstream aggregate is
    duplicate-insensitive, and the half-round pair's single
    canonicalizing distinct lives at the END of :func:`_small_star`
    (where the round's checksum is observed). Dropping the mid-round
    distinct removes one full edge-scaled shuffle per CC round — at
    100 TB that is |E| rows per round that never cross the network
    (guide §2.4); the only cost is ≤2× row multiplicity flowing into
    small-star's map-side-combined aggregates."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (sym.groupBy("src").agg(F.min("dst").alias("mn"))
               .select("src", F.least("mn", "src").alias("m")))
    return (sym.join(mins, "src")
               .where(F.col("dst") > F.col("src"))
               .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
               .where(F.col("src") != F.col("dst")))


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges large→small, then every node
    attaches its smaller neighbours (and itself) to the minimum.

    The attach rows and the per-source self-edge are exploded from ONE
    evaluation of the ``mins`` aggregate (r12): the previous
    ``attach.union(self_edge)`` plan held ``mins`` in both branches, so
    the physical plan re-ran the oriented-edge aggregate — a full
    edge-scaled groupBy — twice per round. The self-edge now rides the
    join output (duplicated once per incident edge) and the round's
    single trailing distinct canonicalizes, so the aggregate runs once.
    Tolerates duplicate input edges (min is duplicate-insensitive);
    emits the canonical distinct edge set the convergence checksum is
    observed on."""
    oriented = (edges.select(F.greatest("src", "dst").alias("src"),
                             F.least("src", "dst").alias("dst"))
                     .where(F.col("src") != F.col("dst")))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    return (oriented.join(mins, "src")
            .select(F.explode(F.array(
                F.struct(F.col("dst").alias("src"),
                         F.col("m").alias("dst")),
                F.struct(F.col("src").alias("src"),
                         F.col("m").alias("dst")))).alias("_e"))
            .select("_e.src", "_e.dst")
            .where(F.col("src") != F.col("dst"))
            .distinct())


def _checkpoint(df: DataFrame):
    """Back-compat delegate — the checkpoint/handle plumbing now lives
    with the rest of the persistence hygiene in
    ``cache.eager_checkpoint`` (prefix.py needs the same fail-loud
    materialization)."""
    from map_reduce_mongodb_spark.cache import eager_checkpoint
    return eager_checkpoint(df)


def _checkpoint_checksummed(edges: DataFrame):
    """Eager-checkpoint ``edges`` while OBSERVING its deterministic
    (count, xxhash64-xor) checksum inside the same job — bit_xor (not
    sum) of the row hashes is order-insensitive and free of ANSI
    long-overflow. Returns (checkpointed_df, rdd_handles, (n, h));
    the convergence test costs zero extra jobs."""
    obs = Observation()
    ck, handles = _checkpoint(edges.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")),
                   F.lit(0)).alias("h")))
    got = obs.get
    return ck, handles, (int(got["n"]), int(got["h"]))


def symmetrize(pairs: DataFrame, id_a: str = "id_a",
               id_b: str = "id_b") -> DataFrame:
    """Undirected (id_a < id_b) pair list → both directed
    orientations, the standard prelude to degree counts / neighbor
    expansion over a dedup-pair table. ONE definition (r9 review
    folded 8 verbatim copies in queries.py here): this is exactly the
    union shape the union-duplication sweep audits — both branches
    read the SAME (materialized) pair table, which is the legitimate
    form — so the idiom's contract lives next to the audit that
    polices it."""
    return pairs.union(pairs.select(F.col(id_b).alias(id_a),
                                    F.col(id_a).alias(id_b)))


def cluster_assignments(labels: DataFrame,
                        id_out: str = "doc_id") -> DataFrame:
    """Component labels ``(id, cc)`` → per-member cluster rows
    ``(id_out, cluster_id, cluster_size)`` — the keep-one-per-cluster
    assignment contract (cluster_id = component-min id), defined once
    for every label consumer (r9 review: the text and embedding
    cluster queries carried verbatim copies)."""
    sizes = labels.groupBy("cc").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (labels.join(sizes, "cc")
            .select(F.col("id").alias(id_out),
                    F.col("cc").alias("cluster_id"),
                    F.col("cluster_size")))


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 25) -> DataFrame:
    """Label every node of the undirected graph `edges` with the
    minimum node id of its connected component.

    Input: any DataFrame with two comparable id columns (self-loops and
    duplicate/reversed edges are fine). Output: ``(id, cc)`` — one row
    per non-isolated node, ``cc`` = min id in its component (isolated
    nodes never appear in an edge list; callers union them back with
    cc = id if needed).

    The input is checkpointed eagerly before round 1, so the four
    symmetrize union branches read one materialization and convergence
    starts from the input's checksum."""
    from map_reduce_mongodb_spark.cache import note_build_metric, track_rdd

    # No ``.distinct()`` on the input (r12): the star rounds are
    # multiset-tolerant (every aggregate is duplicate-insensitive and
    # each round ends in small-star's canonicalizing distinct), and the
    # typical input is an already-distinct pair table — the dedup
    # shuffle was a pure edge-scaled tax on every CC invocation. A
    # genuinely duplicated input only inflates round 1's row counts;
    # the (count, xor) convergence checksum still can't confuse the
    # multiset with a fixpoint (the count component differs).
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
              .where(F.col(src) != F.col(dst)))
    e, handles, prev = _checkpoint_checksummed(e)
    rounds = 0
    for _ in range(max_iter):
        nxt, nxt_handles, cur = _checkpoint_checksummed(
            _small_star(_large_star(e)))
        rounds += 1
        for h in handles:  # superseded iteration's blocks
            h.unpersist(False)
        e, handles = nxt, nxt_handles
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    note_build_metric("cc_rounds", rounds)
    # The returned plan hangs off the FINAL checkpoint; its blocks are
    # handed to the cache registry, so they live until the next
    # registered query is built (same lifetime as tracked_persist
    # caches — results must be consumed before the next build).
    for h in handles:
        track_rdd(h)
    # At the fixpoint every edge is (member, component-min); the min
    # itself appears only on the right side.
    labels = (e.select(F.col("src").alias("id"), F.col("dst").alias("cc"))
               .union(e.select(F.col("dst").alias("id"),
                               F.col("dst").alias("cc")))
               .groupBy("id").agg(F.min("cc").alias("cc")))
    return labels


def k_core(pairs: DataFrame, k: int, id_a: str = "id_a",
           id_b: str = "id_b", max_iter: int = 50) -> DataFrame:
    """Nodes of the graph's k-CORE (the maximal subgraph where every
    node keeps degree ≥ k): iterative peeling — drop all nodes with
    current degree < k, re-filter the edge list to survivors, repeat
    until a round drops nobody. Returns (id, core_degree) with the
    node's degree INSIDE the core.

    Execution shape: each round is one map-side-combined degree
    aggregate + two semi-joins keyed by node id — O(edges) per round,
    no driver-side graph state; rounds cut lineage with the module's
    localCheckpoint discipline (superseded rounds' RDD blocks released
    immediately). Convergence is the module's observed edge-set
    checksum (edges unchanged ⟺ degrees unchanged ⟺ peel fixpoint),
    measured INSIDE each round's checkpoint job — one blocking job per
    round, no separate count job (the r6 two-jobs-per-round cadence
    was the load amplifier; module docstring). Round count is bounded
    by the peeling depth (the graph's degeneracy ordering length), not
    by data size; ``max_iter`` is a guard rail, and the loop raises if
    it trips without converging (a silently partial core would be
    wrong, not slow)."""
    from map_reduce_mongodb_spark.cache import note_build_metric, track_rdd
    sym = pairs.select(F.col(id_a).alias("src"),
                       F.col(id_b).alias("dst"))
    edges = sym.union(sym.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
    edges, handles, rounds = _peel(edges, k, max_iter)
    note_build_metric("kcore_rounds", rounds)
    for h in handles:
        track_rdd(h)
    return (_core_degrees(edges, k)
            .select(F.col("src").alias("id"), "core_degree"))


def _peel(edges: DataFrame, k: int, max_iter: int):
    """Peel an already-SYMMETRIC edge set to its k-core fixpoint.
    Returns (fixpoint_edges, final_checkpoint_handles, rounds). The
    input's own checkpoint blocks (if any) are the caller's to manage
    — only this peel's superseded intermediates are released here, so
    peels can be CHAINED off one another's fixpoints."""
    handles: list = []
    prev = None
    rounds = 0
    for _ in range(max_iter):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= k).select("src")
        edges, nxt, cur = _checkpoint_checksummed(
            edges.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst",
                  "left_semi"))
        rounds += 1
        for h in handles:
            h.unpersist(False)
        handles = nxt
        if cur[0] == 0 or cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"k_core did not converge within {max_iter} rounds")
    return edges, handles, rounds


def _core_degrees(edges: DataFrame, k: int) -> DataFrame:
    return (edges.groupBy("src").agg(F.count(F.lit(1))
                                     .alias("core_degree"))
            .where(F.col("core_degree") >= k))


def k_core_profile(pairs: DataFrame, ks: list[int], id_a: str = "id_a",
                   id_b: str = "id_b", max_iter: int = 50) -> DataFrame:
    """Depth profile over increasing k: one row per requested depth —
    ``(k, n_core_docs, max_core_degree)`` (0s when the core is empty).

    Exploits k-core MONOTONICITY — the (k+1)-core is a subgraph of
    the k-core, so each deeper peel starts from the PREVIOUS fixpoint
    instead of the full graph (textbook degeneracy-decomposition
    nesting). Independent peels per k re-scan the full edge set every
    time; chained peels touch a strictly shrinking nucleus, so at
    corpus scale the k=3,4 passes cost near-nothing once the 2-core
    has collapsed the graph. Every intermediate core's checkpoint
    blocks stay registered (track_rdd) until the next registered
    query builds — the returned per-depth aggregates read them
    lazily."""
    from map_reduce_mongodb_spark.cache import note_build_metric, track_rdd

    sym = pairs.select(F.col(id_a).alias("src"),
                       F.col(id_b).alias("dst"))
    edges = sym.union(sym.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
    profiles = []
    keep_handles: list = []
    for k in sorted(ks):
        edges, handles, rounds = _peel(edges, k, max_iter)
        note_build_metric("kcore_rounds", rounds)
        keep_handles.extend(handles)
        profiles.append(
            _core_degrees(edges, k)
            .agg(F.count(F.lit(1)).alias("n_core_docs"),
                 F.coalesce(F.max("core_degree"), F.lit(0))
                  .cast("long").alias("max_core_degree"))
            .select(F.lit(k).alias("k"), "n_core_docs",
                    "max_core_degree"))
    for h in keep_handles:
        track_rdd(h)
    out = profiles[0]
    for p in profiles[1:]:
        out = out.unionByName(p)
    return out


def cc_threshold_sweep(pairs: DataFrame, weight: str,
                       thresholds: list[float], id_a: str = "id_a",
                       id_b: str = "id_b",
                       max_iter: int = 25) -> list[tuple[float, DataFrame]]:
    """Connected-component labels of the weighted pair graph at EVERY
    threshold in ``thresholds`` — the dedup threshold-response curve —
    computed by SUPERNODE CONTRACTION instead of one full CC run per
    level. Returns ``[(threshold, labels)]`` in the input's order;
    each ``labels`` is ``(id, cc)`` over the nodes with an incident
    edge at that threshold, ``cc`` = min node id in the component
    (identical contract to :func:`connected_components`).

    Thresholds are monotone (``E_t ⊆ E_s`` for ``t > s``), so the
    sweep runs highest-first: full CC once at the top level, then for
    each lower level every known component is CONTRACTED to its label
    (which IS the component's min id) and CC runs over only the NEW
    edges — endpoints mapped through the previous labels, self-loops
    (edges internal to an existing component) dropped. Labels compose
    as min-of-mins: ``cc_s(v) = cc_contracted(cc_t(v))``, exact
    because the supernode id is already the min of its t-component,
    so the contracted component's min equals the true s-component's
    min. At corpus scale this is the difference between re-clustering
    the whole near-dup graph per curve point and touching each edge
    once at the level where it first appears — the incremental /
    hierarchical-clustering shape (single-linkage dendrogram cut at
    several heights).

    Shuffle budget: one full CC at the top threshold + per lower
    level: one broadcast-scale join per endpoint to map through prior
    labels (labels tables are node-scaled — joined as ordinary
    shuffle joins, NOT hinted, per the ARCHITECTURE §4 keep-list
    policy), one CC over the contracted delta graph (typically tiny:
    only inter-component new edges survive contraction), and one
    label-composition join.

    Every level's composed label table is eagerly CHECKPOINTED before
    it is reused (r9, from the registry-wide union-duplication sweep):
    :func:`connected_components` returns an *aggregate over* its
    checkpointed fixpoint — not a leaf — so without this each lower
    level's contraction joins AND every consumer branch that unions /
    joins several levels' labels (the threshold-sweep query's 3-branch
    output) re-executed the whole label-composition subtree per use.
    The materialization is node-scaled (tiny next to the edge work);
    consumers read leaves.
    """
    from map_reduce_mongodb_spark.cache import checkpoint_leaf as _leaf

    order = {t: i for i, t in enumerate(thresholds)}
    out: list[tuple[float, DataFrame]] = [None] * len(thresholds)  # type: ignore
    labels = None  # (id, cc) at the previous (higher) threshold
    prev_t = None
    for t in sorted(thresholds, reverse=True):
        if labels is None:
            e = pairs.where(F.col(weight) >= t)
            labels = _leaf(connected_components(e, src=id_a, dst=id_b,
                                                max_iter=max_iter))
        else:
            delta = pairs.where((F.col(weight) >= t)
                                & (F.col(weight) < prev_t))
            # Map both endpoints through the prior labels; nodes not
            # seen at the higher threshold are their own supernode.
            la = labels.select(F.col("id").alias(id_a),
                               F.col("cc").alias("_ca"))
            lb = labels.select(F.col("id").alias(id_b),
                               F.col("cc").alias("_cb"))
            # distinct HERE, not in connected_components (r12): CC's
            # star rounds tolerate duplicate edges, so the generic
            # input dedup shuffle was dropped — but contraction is the
            # one producer that genuinely CREATES duplicates (every
            # original edge between the same two supernodes maps to
            # the same contracted pair), so this call site pays the
            # dedup where the duplication actually arises.
            contracted = (delta.select(id_a, id_b)
                          .join(la, id_a, "left")
                          .join(lb, id_b, "left")
                          .select(F.coalesce("_ca", F.col(id_a))
                                  .alias("src"),
                                  F.coalesce("_cb", F.col(id_b))
                                  .alias("dst"))
                          .where(F.col("src") != F.col("dst"))
                          .distinct())
            # sup is read twice below (relabel join + anti-join) —
            # leaf it so the contracted CC's label aggregate runs once
            # contracted carries 2 joins + a distinct — checkpoint it
            # (round 1 would otherwise re-run that subtree 4x; the r13
            # A/B measured the un-checkpointed variant ~1s slower)
            sup = _leaf(connected_components(contracted,
                                             max_iter=max_iter))
            # Compose: every prior node follows its supernode's new
            # label (if the supernode merged), else keeps its own;
            # supernodes themselves appear in `sup` directly, and
            # nodes first seen at this level enter via sup too.
            sup_l = sup.select(F.col("id").alias("cc"),
                               F.col("cc").alias("_new"))
            relabelled = (labels.join(sup_l, "cc", "left")
                          .select("id", F.coalesce("_new", "cc")
                                  .alias("cc")))
            fresh = (sup.join(labels.select(F.col("id")), "id",
                              "left_anti"))
            labels = _leaf(relabelled.unionByName(fresh))
        out[order[t]] = (t, labels)
        prev_t = t
    return out
