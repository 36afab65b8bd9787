"""Plan-shape audits over Catalyst logical plans.

The r8 lesson (NOTES_r8 §8): **a union is not a multi-output
operator** — every branch of a ``Union`` re-executes its whole
subtree, so emitting k output rows per input row through a union runs
the dominant join/aggregate k times (containment_pairs paid 2× its
posting join; scd2_apply paid 4× its scan+join per replay epoch). A
union is fine only when its branches read MATERIALIZED tables
(shared parquet / checkpoint leaves) or genuinely different sources.

r8 pinned the five fixed sites by name; this module generalizes the
audit to ANY DataFrame (VERDICT r8 #3): walk the optimized logical
plan, and for every Union flag expensive subtrees (Join / Aggregate /
Window — the nodes that imply an exchange) that appear, canonically
equal, in more than one branch. Canonical equality is Catalyst's own
``semanticHash`` / ``sameResult`` (expression-id-insensitive), reached
through the Py4J plan handles — the same objects ``df.explain`` walks.

Leaf-level duplication (two branches scanning the same parquet
relation) is deliberately NOT flagged: a double columnar scan of a
materialized table is the intended union shape (pair-table
symmetrization), and flagging it would outlaw every legitimate union.

Used by ``tests/test_plans.py`` to sweep all registered queries, and
available as a standalone audit for new operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Logical nodes whose re-execution implies repeating a shuffle/exchange
# (the scale-relevant cost). Generate/Project/Filter duplication over a
# shared leaf is pipeline work — cheap, not flagged.
_EXPENSIVE_NODES = frozenset({"Join", "Aggregate", "Window"})


def _children(node) -> list:
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _walk(node):
    yield node
    for c in _children(node):
        yield from _walk(c)


def union_duplicate_subtrees(df: DataFrame) -> list[str]:
    """Names of expensive logical nodes (Join/Aggregate/Window) that
    occur — canonically equal — in two or more branches of the same
    ``Union`` in ``df``'s OPTIMIZED logical plan (post-pushdown, so a
    join the optimizer itself duplicates by pushing it through a union
    is caught too). Empty list = no silent cross-branch recompute.

    Deliberate private-API use, version-pinned like
    ``cache.checkpoint_leaf``: ``df._jdf.queryExecution()`` (the Py4J
    QueryExecution handle) and ``semanticHash()`` / ``sameResult()``
    (PUBLIC Catalyst QueryPlan APIs reached through it) are stable
    across Spark 3.x/4.x. There is no public PySpark surface that
    exposes the plan TREE — ``explain()`` renders strings whose
    formatting drifts across versions (ADVICE r8 on the string-matched
    plan pin), while canonical subtree equality is exactly the
    semantics this audit needs."""
    plan = df._jdf.queryExecution().optimizedPlan()
    flags: list[str] = []
    for node in _walk(plan):
        if node.getClass().getSimpleName() != "Union":
            continue
        seen: dict[object, tuple[int, object]] = {}
        for branch_idx, branch in enumerate(_children(node)):
            for d in _walk(branch):
                kind = d.getClass().getSimpleName()
                if kind not in _EXPENSIVE_NODES:
                    continue
                key = _dup_key(d, kind)
                if key in seen:
                    prev_idx, prev = seen[key]
                    if prev_idx != branch_idx and _same_work(prev, d,
                                                            kind):
                        flags.append(kind)
                else:
                    seen[key] = (branch_idx, d)
    return flags


def duplicated_shuffle_exchanges(df: DataFrame) -> int:
    """Count of ``ShuffleExchangeExec`` nodes in the PHYSICAL plan
    that are canonically equal to an earlier one yet not folded into a
    ``ReusedExchange`` — i.e. the same shuffle paid twice. Spark's
    ReuseExchange rule (on by default) normally dedupes these, so a
    nonzero count means either the rule was defeated (a plan shape it
    cannot see through) or reuse is disabled; either way the plan
    repeats its most expensive physical work. Complements
    :func:`union_duplicate_subtrees`: that audit catches LOGICAL
    duplication the optimizer itself introduces or keeps; this one
    certifies the physical plan carries each distinct shuffle once.
    Audit with AQE OFF for a meaningful static answer — under AQE the
    pre-execution plan predates the adaptive stage cache's runtime
    reuse (identical stages dedupe only as they execute), while
    AQE-off planning applies ReuseExchange statically, so the AQE-off
    count is the conservative bound on paid shuffles (r9 registry
    sweep: 0 across all 260 queries — pinned by the sweep test with
    a reuse-disabled positive control).

    LAMBDA "BLIND SPOT" RETRACTED (r11, VERDICT r10 #4): r10
    documented that higher-order-function subtrees (transform/filter/
    aggregate lambdas) do not canonicalize equal because
    NamedLambdaVariable exprIds are not normalized, so a real
    lambda-subtree recompute would audit as clean. The r11 attempt to
    close that hole detector-side DISPROVED the premise on this Spark
    version: two INDEPENDENTLY-built copies of shared_token_runs'
    scan+explode+df-cap-window subtree (fresh NamedLambdaVariable
    exprIds on each Python `F.transform` call) canonicalize EQUAL —
    `semanticHash` matches, `sameResult` is true, the canonicalized
    tree strings are byte-identical, and ReuseExchange folds their
    gram exchanges in the physical plan (AQE off, the sweep's
    configuration). So the hash comparison below is sound for
    lambda-bearing exchanges too, and a string-normalizing fallback
    would be dead code carrying false-positive risk. The r10
    observation that motivated `42ccdd3` was most plausibly a
    misread AQE explain string — `explain` under AQE prints the
    initial AND final plans, double-printing every subtree, so naive
    substring counting sees "two scans" where one executes. Pinned by
    tests/test_plans.py::test_lambda_subtrees_canonicalize_equal — a
    CANARY that fails loudly if a Spark bump ever stops normalizing
    lambda exprIds, at which point this sweep genuinely goes blind on
    lambda subtrees and needs the fallback after all."""
    plan = df._jdf.queryExecution().executedPlan()
    seen: dict[int, object] = {}
    dups = 0
    for node in _walk_physical(plan):
        if node.getClass().getSimpleName() != "ShuffleExchangeExec":
            continue
        key = node.canonicalized().semanticHash()
        if key in seen and node.sameResult(seen[key]):
            dups += 1
        else:
            seen.setdefault(key, node)
    return dups


def _walk_physical(node):
    """Physical-plan walk that sees through the wrapper nodes whose
    ``children()`` is EMPTY: ``AdaptiveSparkPlanExec`` holds its real
    tree in ``initialPlan`` (a leaf to the generic walk — the
    detector's own positive control caught this twice: without the
    unwrap every AQE-wrapped plan audits vacuously clean, and
    ``inputPlan`` is the PRE-EnsureRequirements tree that carries no
    exchanges at all), and query-stage wrappers hold theirs in
    ``plan``. ``ReusedExchangeExec`` is deliberately NOT descended:
    it IS the dedupe marker, and its referenced child was already
    counted where it physically lives."""
    name = node.getClass().getSimpleName()
    if name == "ReusedExchangeExec":
        yield node
        return
    yield node
    if name == "AdaptiveSparkPlanExec":
        yield from _walk_physical(node.initialPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _walk_physical(node.plan())
        return
    for c in _children(node):
        yield from _walk_physical(c)


def _dup_key(node, kind: str):
    """Hashable 'same physical work' key. Join/Window: Catalyst's own
    semanticHash (full subtree). Aggregate: (child, grouping keys)
    ONLY — the optimizer collapses each union branch's projection into
    the Aggregate's result expressions (`c AS a` vs `concat('r_', c)
    AS a`), so two branches re-running the identical scan+shuffle+
    group pass hash differently at the node level; same child + same
    grouping IS the duplicated exchange, whatever is computed on top
    (one pass could compute both branches' outputs)."""
    if kind != "Aggregate":
        return ("n", node.semanticHash())
    return ("agg", _agg_work(node))


def _agg_work(node) -> tuple:
    """(child semanticHash, canonical grouping-expression hashes) read
    from the CANONICALIZED plan — plan-level canonicalization is what
    normalizes AttributeReference exprIds (#4 vs #19 across branches);
    a bare expression's own `canonicalized` does not."""
    cn = node.canonicalized()
    ch = _children(cn)
    child_h = ch[0].hashCode() if ch else 0
    ge = cn.groupingExpressions()
    grouping = tuple(ge.apply(i).hashCode() for i in range(ge.size()))
    return (child_h, grouping)


def _same_work(a, b, kind: str) -> bool:
    """Collision check behind :func:`_dup_key` (hashes can collide)."""
    if kind != "Aggregate":
        return a.sameResult(b)
    ca, cb = _children(a), _children(b)
    if bool(ca) != bool(cb) or (ca and not ca[0].sameResult(cb[0])):
        return False
    ga = a.canonicalized().groupingExpressions()
    gb = b.canonicalized().groupingExpressions()
    if ga.size() != gb.size():
        return False
    return all(ga.apply(i).semanticEquals(gb.apply(i))
               for i in range(ga.size()))
