"""Registry-contract tests, run without touching Spark: the oracle
registry follows registration order, every rows-only query names its
exactness gate, and oracle money sums stay merge-order exact."""

from __future__ import annotations

from pathlib import Path

from map_reduce_mongodb_spark.queries import (
    ORACLE_SQL,
    QUERIES,
    ROWS_ONLY_GATES,
)

REPO = Path(__file__).resolve().parent.parent


def test_oracle_registry_is_subset_and_ordered():
    assert set(ORACLE_SQL) <= set(QUERIES)
    assert list(ORACLE_SQL) == [n for n in QUERIES if n in ORACLE_SQL]


def test_rows_only_queries_all_name_an_exactness_gate():
    """Every rows-only (no-oracle) query must name the oracle-checked
    twin (or pinning test) that proves its machinery exact — so a
    rows-only result is traceable to hash-green evidence. Anything
    rows-only WITHOUT a gate is probably a forgotten oracle_sql
    entry."""
    rows_only = {n for n in QUERIES if n not in ORACLE_SQL}
    assert set(ROWS_ONLY_GATES) == rows_only, (
        f"gate map out of sync with rows-only set: "
        f"only_in_map={sorted(set(ROWS_ONLY_GATES) - rows_only)} "
        f"ungated={sorted(rows_only - set(ROWS_ONLY_GATES))}")
    for name, gate in ROWS_ONLY_GATES.items():
        if gate.startswith("tests/"):
            path, _, testname = gate.partition("::")
            assert (REPO / path).exists(), f"{name}: gate file {path}"
            assert testname and testname in (REPO / path).read_text(), (
                f"{name}: gate test {testname} not found in {path}")
        else:
            assert gate in ORACLE_SQL, (
                f"{name}: gate {gate} is not an oracle-checked query")


def test_no_raw_double_product_sums_in_oracles():
    """Money-sum policy guard (r10): `sum()` over a raw double
    product of decimal-grid columns is a merge-order coin flip when
    rounded — the product grid (4+ decimals) is finer than the
    2-decimal rounding grid, so the TRUE sum sits exactly on a
    rounding boundary ~1% of the time and the last ulp (which decides
    the round) depends on partial-aggregation merge order. The r10
    row-group-layout sweep caught q1 flipping for real. Every revenue
    sum must go through a DECIMAL cast (_REV_DEC_SQL / _rev_dec) or
    the per-row exact-integer-cents pattern (CAST(round(expr * 10^k)
    AS BIGINT) before the sum). This lint scans the ORACLE strings:
    any `sum(` whose argument multiplies l_extendedprice /
    p_retailprice / o_totalprice without a DECIMAL cast or per-row
    round-to-integer is flagged."""
    import re

    from map_reduce_mongodb_spark.queries import ORACLE_SQL

    money_cols = ("l_extendedprice", "p_retailprice", "o_totalprice")

    def raw_product_sums(sql: str) -> list[str]:
        hits = []
        for m in re.finditer(r"sum\s*\(", sql, re.IGNORECASE):
            # extract the balanced argument of this sum(
            depth, i = 1, m.end()
            while i < len(sql) and depth:
                depth += {"(": 1, ")": -1}.get(sql[i], 0)
                i += 1
            arg = sql[m.end():i - 1]
            if "*" not in arg:
                continue
            if not any(c in arg for c in money_cols):
                continue
            if "DECIMAL" in arg.upper():
                continue        # exact decimal arithmetic
            if re.search(r"round\s*\(", arg, re.IGNORECASE):
                continue        # per-row exact-integer cents
            hits.append(" ".join(arg.split())[:80])
        return hits

    # positive control: the pre-r10 q1 shape must be flagged
    assert raw_product_sums(
        "SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) "
        "FROM lineitem"), "detector failed its positive control"
    # ...and both sanctioned patterns must pass
    assert not raw_product_sums(
        "SELECT round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) "
        "* (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) FROM lineitem")
    assert not raw_product_sums(
        "SELECT sum(CAST(round(l_extendedprice * (1 - l_discount) "
        "* 10000) AS BIGINT)) FROM lineitem")

    bad = {n: h for n, sql in ORACLE_SQL.items()
           if (h := raw_product_sums(sql))}
    assert not bad, (
        "raw double product sums in oracles (merge-order coin flips "
        f"when rounded — use _REV_DEC_SQL or per-row cents): {bad}")
