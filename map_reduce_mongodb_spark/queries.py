"""Query catalog: every operator from SURVEY.md §2 (and the north-star
extensions) as a named (PySpark query, DuckDB oracle SQL) pair.

Contract (``__spark_entry__.py``): each Spark callable takes
``(spark, sf_dir)`` and returns a DataFrame whose column NAMES match the
oracle's aliases exactly (the driver sorts columns by name before
hashing). Conventions used throughout to make the hash comparison
robust:

- every computed/aggregate column is aliased identically on both sides;
- double-typed aggregates are ``ROUND(x, 2)`` (sums/avgs of different
  accumulation orders agree after rounding; per-row arithmetic is
  bit-identical between engines so it stays unrounded);
- every top-k/limit query carries a deterministic total order (unique
  tiebreak column) so the selected SET is engine-independent;
- nondeterministic "first" aggregates are replaced by ``min_by`` /
  ``arg_min`` on an explicit key.

Section markers (S/P/F/M/A/...) refer to SURVEY.md §2's operator
inventory; reference citations are ``file:line`` into /root/reference.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_mongodb_spark.cache import (
    checkpoint_leaf, release_caches, release_leaf)
from map_reduce_mongodb_spark.io import table
from map_reduce_mongodb_spark.operators.graph import symmetrize
from map_reduce_mongodb_spark.pipeline.usgs import usgs_flat_join

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query (and optionally its DuckDB oracle SQL).

    Cache hygiene: building a registered query first releases the
    caches tracked by the PREVIOUSLY built one (operators persist
    intermediates via cache.tracked_persist), so a session sweeping
    all queries holds at most one query's caches at a time instead of
    accumulating ~58 of them. Plain persists recompute if an earlier
    returned DataFrame is re-collected later; checkpoint-BACKED
    results (distributed_cumsum/_cummax, CC labels) instead fail
    loudly once released — consume every result before the next
    query builds (cache.py release contract, r7)."""
    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_caches()
            return fn(spark, sf_dir)
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return wrapped
    return deco


# =====================================================================
# Flagship — the reference pipeline end-to-end (S2,P1-P8,F1-F3,M2,A2,A3)
# =====================================================================

@query("usgs_site_join", oracle="""
WITH src AS (
  SELECT event_id,
         'S' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS site,
         CAST(user_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
         CAST(user_id % 180 - 90 AS DOUBLE) + 0.25 AS lat,
         CASE (CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
                WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END) % 3
           WHEN 0 THEN '00065' WHEN 1 THEN '00060' ELSE '00010' END AS code,
         CASE WHEN event_id % 13 = 0 THEN 'undefined'
              ELSE CAST(value AS VARCHAR) END AS mval,
         strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS mts
  FROM events
  WHERE event_id % 17 <> 0
)
SELECT * FROM (
  SELECT site,
         min(lon) AS lon,
         min(lat) AS lat,
         arg_min(mval, event_id) FILTER (WHERE code = '00065') AS flow_value,
         arg_min(mts,  event_id) FILTER (WHERE code = '00065') AS flow_ts,
         arg_min(mval, event_id) FILTER (WHERE code = '00060') AS gage_value,
         arg_min(mts,  event_id) FILTER (WHERE code = '00060') AS gage_ts
  FROM src
  WHERE code IN ('00065', '00060')
  GROUP BY site
)
WHERE flow_value IS NOT NULL AND gage_value IS NOT NULL
""")
def q_usgs_site_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole reference pipeline (SURVEY.md §3.1) with a FLAT output
    so the oracle hash-compares: per-site lon/lat + the streamFlow and
    gageHeight measurements of sites having both (N5 inner semantics)."""
    return usgs_flat_join(table(spark, "events", sf_dir))


def _usgs_synth_sites(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (site, lon, lat) synthesized from events — the Spark
    twin of ``_USGS_SITES_CTE`` below. ONE definition (r9 review: two
    byte-identical copies meant a change to the site-synthesis
    formula — the lpad width, the lon/lat offsets — could silently
    break exactly one of the two consuming oracle checks).

    tracked_persist (r12): both consumers are SELF-joins (nearest-3
    pairs; radius grid join), so left lazy the events-scaled
    filter+distinct evaluated once per join side — two full events
    scans per query where one suffices. Node-scaled result, released
    on the next registered query build (cache.py contract)."""
    from map_reduce_mongodb_spark.cache import tracked_persist
    events = table(spark, "events", sf_dir)
    return tracked_persist(events.filter(F.col("event_id") % 17 != 0)
            .select(F.concat(F.lit("S"),
                             F.lpad(F.col("user_id").cast("string"),
                                    6, "0")).alias("site"),
                    (F.col("user_id") % 360 - 180).cast("double")
                    .alias("_lon0"),
                    (F.col("user_id") % 180 - 90).cast("double")
                    .alias("_lat0"))
            .select("site", (F.col("_lon0") + 0.5).alias("lon"),
                    (F.col("_lat0") + 0.25).alias("lat"))
            .distinct())


#: The site-coordinates CTE shared by the nearest-sites oracle: the
#: distinct (site, lon, lat) triples the flagship pipeline derives.
_USGS_SITES_CTE = """
WITH sites AS (
  SELECT DISTINCT 'S' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS site,
         CAST(user_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
         CAST(user_id % 180 - 90 AS DOUBLE) + 0.25 AS lat
  FROM events
  WHERE event_id % 17 <> 0)
"""


@query("usgs_nearest_sites", oracle=_USGS_SITES_CTE + """
SELECT site, neighbor, dist2, rank FROM (
  SELECT a.site AS site, b.site AS neighbor,
         round((a.lon - b.lon) * (a.lon - b.lon)
               + (a.lat - b.lat) * (a.lat - b.lat), 6) AS dist2,
         row_number() OVER (
           PARTITION BY a.site
           ORDER BY (a.lon - b.lon) * (a.lon - b.lon)
                    + (a.lat - b.lat) * (a.lat - b.lat), b.site)
           AS rank
  FROM sites a JOIN sites b ON a.site <> b.site)
WHERE rank <= 3
""")
def q_usgs_nearest_sites(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial nearest-neighbour join over the reference's geo domain:
    each monitoring site's 3 closest other sites by squared planar
    degree distance (the documented equirectangular-style
    approximation — only +, ×, comparisons: every op is IEEE
    correctly-rounded in both engines, so unlike trig haversine the
    whole spatial ranking hash-checks; swap in haversine per-row when
    a geodesic answer matters, same plan shape). Site count is tiny
    next to events, so the pair join broadcasts; at real scale the
    standard upgrade is a geohash/S2 cell bucket join feeding the
    same per-site ranking window — candidates from neighbouring
    cells only, never all pairs (implemented:
    operators/spatial.py:radius_pairs, oracle-proven lossless by
    `usgs_sites_within_radius`)."""
    sites = _usgs_synth_sites(spark, sf_dir)
    a = sites.select(F.col("site"), F.col("lon").alias("lon_a"),
                     F.col("lat").alias("lat_a"))
    b = sites.select(F.col("site").alias("neighbor"),
                     F.col("lon").alias("lon_b"),
                     F.col("lat").alias("lat_b"))
    dist2 = ((F.col("lon_a") - F.col("lon_b"))
             * (F.col("lon_a") - F.col("lon_b"))
             + (F.col("lat_a") - F.col("lat_b"))
             * (F.col("lat_a") - F.col("lat_b")))
    w = Window.partitionBy("site").orderBy(dist2, F.asc("neighbor"))
    return (a.join(F.broadcast(b), F.col("site") != F.col("neighbor"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("site", "neighbor", F.round(dist2, 6).alias("dist2"),
                    "rank"))


# =====================================================================
# Scan + projection + filter (S5, P2-P8, F1-F3 analogues)
# =====================================================================

@query("filter_project", oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue,
       CAST(l_quantity AS INTEGER) AS qty_int,
       CASE WHEN l_returnflag = 'R' THEN 'returned' ELSE 'kept' END AS flag_desc
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.02 AND 0.09
  AND l_quantity < 24
""")
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection + scalar expressions (P4-P7 analogue;
    pushdown-friendly: filters reach the parquet scan)."""
    li = table(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.09)
            & (F.col("l_quantity") < 24)
        )
        .select(
            "l_orderkey", "l_linenumber",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.col("l_quantity").cast("int").alias("qty_int"),
            F.when(F.col("l_returnflag") == "R", "returned")
            .otherwise("kept").alias("flag_desc"),
        )
    )


# Exact decimal revenue term, shared by the TPC-H money family. A
# DOUBLE sum of l_extendedprice*(1-l_discount) is non-associative, so
# its last ulp depends on partial-aggregation merge order — and the
# TRUE sum lands exactly on a half-cent rounding boundary with ~1%
# probability per output value (the product grid is 4-decimal), at
# which point round(...,2) is an engine/merge-order coin flip. The
# r10 row-group-layout sweep caught q1 flipping for real; the whole
# family moves to DECIMAL sums (exact, associative, order-independent
# on any cluster), with round()+CAST(DOUBLE) applied to the exact sum
# on both engines.
_REV_DEC_SQL = ("CAST(l_extendedprice AS DECIMAL(12,2))"
                " * (1 - CAST(l_discount AS DECIMAL(12,2)))")


def _rev_dec():
    """Spark twin of :data:`_REV_DEC_SQL` (see comment above)."""
    return (F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)")))


@query("q1_pricing_summary", oracle="""
WITH l AS (
  SELECT l_returnflag, l_linestatus, l_quantity,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
         CAST(l_discount AS DECIMAL(12,2)) AS disc,
         CAST(l_tax AS DECIMAL(12,2)) AS tax
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02')
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(round(sum(price), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(price * (1 - disc)), 2) AS DOUBLE)
         AS sum_disc_price,
       CAST(round(sum(price * (1 - disc) * (1 + tax)), 2) AS DOUBLE)
         AS sum_charge,
       round(sum(l_quantity) / count(*), 2) AS avg_qty,
       round(CAST(sum(price) AS DOUBLE) / count(*), 2) AS avg_price,
       round(CAST(sum(disc) AS DOUBLE) / count(*), 4) AS avg_disc,
       count(*) AS count_order
FROM l
GROUP BY l_returnflag, l_linestatus
""")
def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical hash-aggregate (A2's aggregation
    layer). Partial (map-side) aggregation makes the shuffle carry only
    |groups| rows per partition.

    Monetary sums run in DECIMAL, not double: a double sum is
    non-associative, so its last ulp depends on partial-aggregation
    merge order — the SAME query on the SAME data rounds sum_charge
    differently run-to-run once the scan is more than one partition
    (caught by the r10 row-group-layout sweep: single-row-group
    fixtures made Spark and DuckDB sum in file order by luck). The
    source columns carry exact cents, so DECIMAL(12,2) casts recover
    them exactly, products are exact at scale ≤6, and the sum is
    associative — order-independent on any cluster. Averages divide
    the exact decimal sum (cast to double) by the count: one float op
    instead of an order-dependent running mean. l_quantity stays a
    double sum: integer-valued, so IEEE addition is exact there."""
    li = table(spark, "lineitem", sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(12,2)")
    tax = F.col("l_tax").cast("decimal(12,2)")
    disc_price = price * (F.lit(1) - disc)
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(price), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum(disc_price * (F.lit(1) + tax)), 2).cast("double")
            .alias("sum_charge"),
            F.round(F.sum("l_quantity") / n, 2).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / n, 2).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / n, 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# =====================================================================
# Joins (A3 generalized + ABSENT-in-reference fill-ins, SURVEY §2.9)
# =====================================================================

@query("join_customer_orders", oracle="""
SELECT c_mktsegment,
       count(*) AS order_cnt,
       round(sum(o_totalprice), 2) AS total_price,
       count(DISTINCT o_custkey) AS active_customers
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""")
def q_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner join fact→dim, un-hinted: customer is tiny relative to
    orders at every SF, so the planner builds it as the broadcast side
    below the 64 MB threshold (no shuffle of the fact table) and AQE
    switches to a shuffle join at cluster scale where the SF-scaling
    dimension outgrows broadcast range."""
    orders = table(spark, "orders", sf_dir)
    customer = table(spark, "customer", sf_dir)
    return (
        orders.join(customer,
                    orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.countDistinct("o_custkey").alias("active_customers"),
        )
    )


@query("join_full_outer_coalesce", oracle="""
SELECT coalesce(o.o_custkey, f.o_custkey) AS custkey,
       coalesce(o.open_cnt, 0) AS open_cnt,
       coalesce(f.done_cnt, 0) AS done_cnt,
       round(coalesce(o.open_total, 0) + coalesce(f.done_total, 0), 2) AS grand_total
FROM (SELECT o_custkey, count(*) AS open_cnt,
             round(sum(o_totalprice), 2) AS open_total
      FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) o
FULL OUTER JOIN
     (SELECT o_custkey, count(*) AS done_cnt,
             round(sum(o_totalprice), 2) AS done_total
      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) f
ON o.o_custkey = f.o_custkey
""")
def q_join_full_outer_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 expressed the join way: two filtered branches full-outer-joined
    on the re-key column with per-field coalesce — the equivalent
    formulation of the reference's ``out:{reduce:'joined'}`` merge
    (mongodb.js:94-115). SURVEY §5 property: equals union-then-group."""
    orders = table(spark, "orders", sf_dir)
    opens = (
        orders.filter(F.col("o_orderstatus") == "O").groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("open_cnt"),
             F.round(F.sum("o_totalprice"), 2).alias("open_total"))
    )
    done = (
        orders.filter(F.col("o_orderstatus") == "F").groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("done_cnt"),
             F.round(F.sum("o_totalprice"), 2).alias("done_total"))
    )
    return (
        opens.join(done, "o_custkey", "full_outer")
        .select(
            F.col("o_custkey").alias("custkey"),
            F.coalesce("open_cnt", F.lit(0)).alias("open_cnt"),
            F.coalesce("done_cnt", F.lit(0)).alias("done_cnt"),
            F.round(F.coalesce("open_total", F.lit(0.0))
                    + F.coalesce("done_total", F.lit(0.0)), 2).alias("grand_total"),
        )
    )


@query("semi_join", oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""")
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one big order."""
    customer = table(spark, "customer", sf_dir)
    big = table(spark, "orders", sf_dir).filter(F.col("o_totalprice") > 300000)
    return (
        customer.join(big, customer.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@query("anti_join", oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 350000)
""")
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no big-ticket order
    (the predicate keeps the result non-trivial at every sf)."""
    customer = table(spark, "customer", sf_dir)
    big = table(spark, "orders", sf_dir).filter(F.col("o_totalprice") > 350000)
    return (
        customer.join(big, customer.c_custkey == big.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


@query("multiway_join", oracle=f"""
SELECT n_name AS nation,
       count(*) AS li_cnt,
       CAST(round(sum({_REV_DEC_SQL}), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY n_name
""")
def q_multiway_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-ish multiway star join: fact ⋈ three dims built as
    broadcast sides (nation/region pinned — 25/5 rows at every SF;
    supplier un-hinted, threshold/AQE-chosen) → zero shuffles before
    the final aggregation at graded SFs. Revenue sums in DECIMAL
    (order-independent — see _REV_DEC_SQL)."""
    li = table(spark, "lineitem", sf_dir)
    supplier = table(spark, "supplier", sf_dir)
    nation = table(spark, "nation", sf_dir)
    region = table(spark, "region", sf_dir).filter(
        F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        li.join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation),
              supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("li_cnt"),
            F.round(F.sum(_rev_dec()), 2).cast("double").alias("revenue"),
        )
    )


# =====================================================================
# Aggregation variants (A2, A4, M2 analogues)
# =====================================================================

@query("agg_conditional_pivot", oracle="""
SELECT o_custkey,
       round(max(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS open_max,
       round(max(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS done_max,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS open_cnt,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS done_cnt,
       arg_min(o_orderpriority, o_orderkey) AS first_priority
FROM orders
GROUP BY o_custkey
""")
def q_agg_conditional_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2's manual pivot (mapreduce.js:78-95) generalized: conditional
    aggregates re-keyed by customer, plus deterministic arg_min in place
    of the reference's order-dependent last-writer-wins."""
    orders = table(spark, "orders", sf_dir)
    is_open = F.col("o_orderstatus") == "O"
    is_done = F.col("o_orderstatus") == "F"
    return orders.groupBy("o_custkey").agg(
        F.round(F.max(F.when(is_open, F.col("o_totalprice"))), 2).alias("open_max"),
        F.round(F.max(F.when(is_done, F.col("o_totalprice"))), 2).alias("done_max"),
        F.count(F.when(is_open, F.lit(1))).alias("open_cnt"),
        F.count(F.when(is_done, F.lit(1))).alias("done_cnt"),
        F.min_by("o_orderpriority", "o_orderkey").alias("first_priority"),
    )


@query("union_groupby", oracle="""
SELECT o_custkey, count(*) AS n, round(sum(amount), 2) AS total
FROM (
  SELECT o_custkey, o_totalprice AS amount FROM orders WHERE o_orderstatus = 'O'
  UNION ALL
  SELECT o_custkey, o_totalprice * 2 AS amount
  FROM orders WHERE o_orderstatus = 'F'
)
GROUP BY o_custkey
""")
def q_union_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The idiomatic-Spark A3: union the filtered branches, one
    groupBy — exactly how the flagship merges its two mapReduce jobs."""
    orders = table(spark, "orders", sf_dir)
    a = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_custkey", F.col("o_totalprice").alias("amount"))
    # `* 2`, not `* 0.5`: keeps amounts at cent precision, so the final
    # round(sum, 2) never sits on a half-cent boundary — Spark and
    # DuckDB round exact .xx5 doubles differently (HALF_UP on the
    # shortest decimal repr vs on the binary value).
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_custkey", (F.col("o_totalprice") * 2).alias("amount"))
    return a.unionByName(b).groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("amount"), 2).alias("total"),
    )


@query("collect_per_group", oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
FROM orders
GROUP BY o_orderpriority
""")
def q_collect_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 analogue (collect-into-document, mongodb.js:125-143) kept
    distributed: collect_set per group, sorted for determinism, joined
    to a string so the cross-engine hash is stable."""
    orders = table(spark, "orders", sf_dir)
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus")))
        .alias("statuses"),
    )


@query("rollup_agg", oracle="""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""")
def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP (grouping-sets family — ABSENT in
    the reference, SURVEY §2.9)."""
    orders = table(spark, "orders", sf_dir)
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


# =====================================================================
# Distinct / set ops / sort / top-k (ABSENT in reference, SURVEY §2.9)
# =====================================================================

@query("distinct_parts", oracle="""
SELECT DISTINCT p_brand, p_type FROM part
""")
def q_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, "part", sf_dir).select("p_brand", "p_type").distinct()


@query("set_intersect", oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""")
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, "orders", sf_dir)
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b)


@query("set_except", oracle="""
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
""")
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, "customer", sf_dir)
    opens = table(spark, "orders", sf_dir).filter(
        F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("c_custkey"))
    # subtract() IS the oracle's EXCEPT (distinct) in one operator;
    # the former exceptAll().distinct() matched only because c_custkey
    # is unique on the left (a duplicated left row surviving once in
    # exceptAll would wrongly survive the distinct) and paid an extra
    # aggregate (r9 review)
    return customer.select("c_custkey").subtract(opens)


@query("set_ops_all", oracle="""
SELECT 'intersect' AS op, okey FROM (
  SELECT l_orderkey AS okey FROM lineitem
  INTERSECT ALL
  SELECT o_orderkey AS okey FROM orders WHERE o_orderkey % 2 = 0)
UNION ALL
SELECT 'except' AS op, okey FROM (
  SELECT l_orderkey AS okey FROM lineitem WHERE l_orderkey % 3 = 0
  EXCEPT ALL
  SELECT o_orderkey AS okey FROM orders WHERE o_orderkey % 2 = 0)
""")
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET set operations (the ALL variants the distinct-based
    set_intersect/set_except don't exercise): INTERSECT ALL keeps
    min-multiplicity, EXCEPT ALL subtracts per-occurrence — Spark's
    intersectAll/exceptAll, which plan as aggregate-count + join
    rather than distinct-hash, so duplicate multiplicity survives."""
    li = table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("okey"))
    o = table(spark, "orders", sf_dir)
    even = (o.filter(F.col("o_orderkey") % 2 == 0)
             .select(F.col("o_orderkey").alias("okey")))
    inter = li.intersectAll(even).select(
        F.lit("intersect").alias("op"), "okey")
    exc = (li.filter(F.col("okey") % 3 == 0).exceptAll(even)
             .select(F.lit("except").alias("op"), "okey"))
    return inter.unionAll(exc)


@query("topk_orders", oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""")
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition
    heaps + driver merge of k rows, never a full sort at scale. Unique
    orderkey tiebreak makes the selected set deterministic."""
    orders = table(spark, "orders", sf_dir)
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


@query("window_topk_per_group", oracle="""
SELECT * FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders JOIN customer ON o_custkey = c_custkey
)
WHERE rn <= 3
""")
def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranking window — the scale-correct idiom
    (shuffle by group key once; no global sort)."""
    orders = table(spark, "orders", sf_dir)
    customer = table(spark, "customer", sf_dir)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.join(customer,
                    orders.o_custkey == customer.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


@query("window_running_sum", oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS UNBOUNDED PRECEDING), 2) AS running_total,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey) AS order_seq
FROM orders
""")
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate window (ABSENT in reference). Deterministic
    frame: unique (o_orderdate, o_orderkey) ordering."""
    orders = table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(
            w.rowsBetween(Window.unboundedPreceding, 0)), 2).alias("running_total"),
        F.row_number().over(w).alias("order_seq"),
    )


# =====================================================================
# Scalar function library (ABSENT in reference, SURVEY §2.9)
# =====================================================================

@query("scalar_functions", oracle="""
SELECT event_id,
       upper(event_type) AS type_upper,
       substr(event_type, 1, 3) AS type_pfx,
       length(props) AS props_len,
       CAST(year(ts) AS INTEGER) AS y,
       CAST(month(ts) AS INTEGER) AS m,
       CAST(dayofmonth(ts) AS INTEGER) AS d,
       CAST(hour(ts) AS INTEGER) AS h,
       date_trunc('day', ts) AS day_ts,
       round(abs(value - 500.0), 2) AS dist_from_500,
       round(sqrt(abs(value)), 4) AS sqrt_val,
       concat(event_type, '#', CAST(event_id % 10 AS VARCHAR)) AS tag
FROM events
WHERE event_type <> 'view'
""")
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar library sweep — every expression stays
    JVM-side in whole-stage codegen (no UDFs)."""
    ev = table(spark, "events", sf_dir)
    return ev.filter(F.col("event_type") != "view").select(
        "event_id",
        F.upper("event_type").alias("type_upper"),
        F.substring("event_type", 1, 3).alias("type_pfx"),
        F.length("props").alias("props_len"),
        F.year("ts").cast("int").alias("y"),
        F.month("ts").cast("int").alias("m"),
        F.dayofmonth("ts").cast("int").alias("d"),
        F.hour("ts").cast("int").alias("h"),
        F.date_trunc("day", F.col("ts")).alias("day_ts"),
        F.round(F.abs(F.col("value") - 500.0), 2).alias("dist_from_500"),
        F.round(F.sqrt(F.abs(F.col("value"))), 4).alias("sqrt_val"),
        F.concat(F.col("event_type"), F.lit("#"),
                 (F.col("event_id") % 10).cast("string")).alias("tag"),
    )


@query("json_extract", oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_val
FROM events
WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 50
""")
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: the reference's schemaless documents map
    to JSON string columns parsed on demand (SURVEY §1.1)."""
    ev = table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_id", k.alias("k_val"))
        .filter(F.col("k_val") > 50)
    )


@query("variant_json", oracle="""
SELECT CAST(floor(CAST(json_extract(props, '$.k') AS BIGINT) / 10.0)
            AS BIGINT) AS k_decile,
       count(*) AS n,
       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_min,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max,
       round(avg(value), 4) AS avg_value
FROM events
WHERE json_extract(props, '$.k') IS NOT NULL
GROUP BY 1
""")
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless JSON via Spark 4 VariantType: ``parse_json`` once
    into a variant (binary-encoded, re-parse-free), then typed
    ``try_variant_get`` extraction — the engine-native path for the
    reference's schema-on-read documents, faster than per-access
    ``get_json_object`` string parsing when several fields are read."""
    ev = table(spark, "events", sf_dir)
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    return (ev.select(k.alias("k"), "value")
              .where(F.col("k").isNotNull())
              .groupBy(F.floor(F.col("k") / F.lit(10.0)).cast("bigint")
                        .alias("k_decile"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.min("k").alias("k_min"),
                   F.max("k").alias("k_max"),
                   F.round(F.avg("value"), 4).alias("avg_value")))


# =====================================================================
# Time windows over events (streaming analogue, batch-testable)
# =====================================================================

@query("events_tumbling_window", oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
""")
def q_events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation — identical code runs
    under Structured Streaming with a watermark (streaming module)."""
    ev = table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                "total_value")
    )


# =====================================================================
# Text analysis (north-star: training-data pipeline operators)
# =====================================================================

@query("doc_text_stats", oracle=r"""
SELECT doc_id,
       n_chars,
       length(text) AS text_len,
       len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS n_words,
       len(regexp_extract_all(text, '\w+|[^\w \t\n\x0B\f\r]')) AS n_tokens,
       len(regexp_extract_all(text, '[^\w \t\n\x0B\f\r]')) AS n_punct
FROM documents
""")
def q_doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document size/token accounting (whitespace words + BPE-ish
    regex tokens + punctuation) — all JVM-side regex, no UDFs."""
    from map_reduce_mongodb_spark.functions import text as T
    docs = table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id", "n_chars",
        F.length("text").alias("text_len"),
        T.word_count(F.col("text")).alias("n_words"),
        T.bpe_token_count(F.col("text")).alias("n_tokens"),
        T.punct_count(F.col("text")).alias("n_punct"),
    )


@query("doc_quality", oracle=r"""
SELECT doc_id,
       round(CAST(len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
                   x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
             / len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')), 6) AS stopword_ratio,
       round(CAST(length(text) AS DOUBLE)
             / len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')), 4) AS chars_per_word,
       CASE WHEN len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) BETWEEN 20 AND 1000
             AND length(text) > 100 THEN 1 ELSE 0 END AS passes_length_gate
FROM documents
""")
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals: stopword ratio, chars-per-word, and a
    length gate — the standard cheap pre-filters for LLM corpora."""
    from map_reduce_mongodb_spark.functions import text as T
    docs = table(spark, "documents", sf_dir)
    n_words = T.word_count(F.col("text"))
    hits = T.stopword_hits(F.col("text"), T.QUALITY_STOPWORDS)
    return docs.select(
        "doc_id",
        F.round(hits.cast("double") / n_words, 6).alias("stopword_ratio"),
        F.round(F.length("text").cast("double") / n_words, 4)
        .alias("chars_per_word"),
        F.when(n_words.between(20, 1000) & (F.length("text") > 100), 1)
        .otherwise(0).alias("passes_length_gate"),
    )


@query("quality_percentile_filter", oracle=r"""
WITH q AS (
  SELECT doc_id, lang,
         round(CAST(len(list_filter(
                   string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
                   x -> x IN ('the','a','of','and','to','in','is')))
               AS DOUBLE)
               / len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')), 6) AS q_score
  FROM documents),
p AS (SELECT doc_id, lang, q_score,
             percent_rank() OVER (PARTITION BY lang ORDER BY q_score) AS pr
      FROM q)
SELECT doc_id, lang, q_score, round(pr, 6) AS pctile
FROM p WHERE pr >= 0.25
""")
def q_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-relative quality gate: drop the bottom quartile of
    docs per LANGUAGE by stopword-ratio score — the percentile filter
    corpus pipelines use instead of absolute thresholds (robust to
    per-language score distributions). percent_rank ties get identical
    values in both engines, so the kept SET is engine-independent
    without a unique tie-break. One scan, one shuffle (window by
    lang); at 100 TB the per-lang sort is the cost — swap to
    approx_percentile cutoffs when exact ranks aren't required."""
    from map_reduce_mongodb_spark.functions import text as T
    docs = table(spark, "documents", sf_dir)
    n_words = T.word_count(F.col("text"))
    hits = T.stopword_hits(F.col("text"), T.QUALITY_STOPWORDS)
    q = docs.select(
        "doc_id", "lang",
        F.round(hits.cast("double") / n_words, 6).alias("q_score"))
    w = Window.partitionBy("lang").orderBy("q_score")
    return (q.withColumn("pr", F.percent_rank().over(w))
             .filter(F.col("pr") >= 0.25)
             .select("doc_id", "lang", "q_score",
                     F.round("pr", 6).alias("pctile")))


#: Self-contained lang-ID oracle (stopword-anchor scores + argmax) —
#: shared by `lang_id` (per-doc listing) and `lang_id_confusion`
#: (the evaluation rollup).
_LANG_ID_ORACLE = r"""
WITH hits AS (
  SELECT doc_id, lang AS labeled_lang,
         len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
             x -> x IN ('der','und','die','das','ist'))) AS h_de,
         len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
             x -> x IN ('the','and','of','to','is'))) AS h_en,
         len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
             x -> x IN ('el','la','los','que','es'))) AS h_es,
         len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
             x -> x IN ('le','la','et','les','est'))) AS h_fr
  FROM documents
)
SELECT doc_id, labeled_lang, h_de, h_en, h_es, h_fr,
       CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
            WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
            WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
            WHEN h_es >= h_fr THEN 'es'
            ELSE 'fr' END AS lang_guess
FROM hits
"""


@query("lang_id", oracle=_LANG_ID_ORACLE)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-anchor language ID (n-gram-heuristic family): score per
    candidate language, argmax with alphabetic tie-break."""
    from map_reduce_mongodb_spark.functions import text as T
    docs = table(spark, "documents", sf_dir)
    scores = T.lang_scores(F.col("text"))
    return docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"),
        *[scores[lang].alias(f"h_{lang}") for lang in sorted(scores)],
        T.lang_guess(F.col("text")).alias("lang_guess"),
    )


@query("pii_scrub", oracle=r"""
WITH raw AS (
  SELECT doc_id,
         text || ' Contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or call 555-01'
              || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '.' AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{4}\b')) AS BIGINT)
         AS n_phones,
       md5(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'),
             '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g')) AS clean_md5
FROM raw
""")
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the scrub pass before corpus
    release. The synthetic corpus carries no real PII, so the query
    first APPENDS deterministic doc_id-derived PII (an email and a
    phone tail), then counts matches per class and redacts with typed
    placeholders; md5 of the redacted text pins the exact replacement
    output against the oracle. Patterns live in functions/text.py in
    the portable Java-regex/RE2 subset; everything is JVM regexp
    (one narrow scan, no UDFs)."""
    from map_reduce_mongodb_spark.functions import text as T
    docs = table(spark, "documents", sf_dir)
    raw = F.concat(
        F.col("text"), F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit("."))
    t = docs.select("doc_id", raw.alias("t"))
    counts = T.pii_counts(F.col("t"))
    return t.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        F.md5(T.pii_redact(F.col("t"))).alias("clean_md5"))


@query("top_bigrams", oracle=r"""
WITH w AS (SELECT string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
     b AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                                        i -> w[i] || ' ' || w[i + 1])) AS bigram
           FROM w WHERE len(w) >= 2)
SELECT bigram, count(*) AS n
FROM b
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
""")
def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram frequency: explode word bigrams (the M1
    multi-emit/UDTF analogue, done with explode), count, top-20 with
    deterministic tie-break."""
    from map_reduce_mongodb_spark.functions.text import word_shingles
    docs = table(spark, "documents", sf_dir)
    return (
        docs.select(F.explode(
            word_shingles(F.col("text"), 2, distinct=False)).alias("bigram"))
        .groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@query("bpe_merge_candidates", oracle=r"""
WITH w AS (SELECT unnest(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'))
             AS word
           FROM documents),
wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
       FROM w WHERE len(word) >= 2 GROUP BY word),
p AS (SELECT freq,
             unnest(list_transform(generate_series(1, len(word) - 1),
                    i -> substr(word, CAST(i AS INTEGER), 2))) AS pair
      FROM wf)
SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
FROM p GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT 20
""")
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE tokenizer TRAINING: corpus-weighted
    adjacent character-pair frequencies (the pair with the highest
    count becomes the first merge rule). Counting happens over the
    DISTINCT-word vocabulary weighted by word frequency — the standard
    BPE trick that makes the pass O(|vocab|·word_len) instead of
    O(corpus chars); at 100 TB the vocabulary aggregate is the only
    corpus-wide shuffle and the pair explode runs on the (tiny) vocab.
    Top-20 with deterministic pair tiebreak."""
    docs = table(spark, "documents", sf_dir)
    words = (docs.select(F.explode(
        F.split(F.lower(F.trim("text")), r"[ \t\n\x0B\f\r]+")).alias("word"))
        .filter(F.length("word") >= 2))
    wf = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    pairs = wf.select(
        "freq",
        F.explode(F.expr(
            "transform(sequence(1, length(word) - 1),"
            " i -> substring(word, i, 2))")).alias("pair"))
    return (pairs.groupBy("pair")
            .agg(F.sum("freq").alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), F.asc("pair"))
            .limit(20))


@query("vocab_coverage", oracle=r"""
WITH w AS (SELECT unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS word
           FROM documents),
f AS (SELECT word, count(*) AS freq FROM w GROUP BY word),
c AS (SELECT word, freq,
             row_number() OVER (ORDER BY freq DESC, word) AS rnk,
             sum(freq) OVER (ORDER BY freq DESC, word
                             ROWS UNBOUNDED PRECEDING) AS cum,
             sum(freq) OVER () AS tot
      FROM f)
SELECT rnk, word, CAST(freq AS BIGINT) AS freq,
       round(CAST(cum AS DOUBLE) / tot, 6) AS cum_share
FROM c WHERE rnk <= 30
""")
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build with coverage accounting: rank words by corpus
    frequency, report each top-30 word's CUMULATIVE share of all
    tokens — the curve that sizes a tokenizer vocab ("how many types
    cover 95% of tokens"). A corpus-scale vocabulary is 100M+ types,
    so the top 30 is cut with orderBy+limit — Spark plans it as
    TakeOrderedAndProject (per-partition top-30 heaps, no global sort;
    VERDICT r4 #6) — the total-token denominator is a broadcast 1-row
    scalar, and only the 30 surviving rows flow through the ranking/
    cumulative window."""
    from map_reduce_mongodb_spark.functions import text as T
    docs = table(spark, "documents", sf_dir)
    f = (docs.select(F.explode(T.words(F.col("text"))).alias("word"))
             .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    tot = f.agg(F.sum("freq").alias("_tot"))
    top = (f.orderBy(F.desc("freq"), F.asc("word")).limit(30)
            .crossJoin(F.broadcast(tot)))
    w_ord = Window.orderBy(F.desc("freq"), F.asc("word"))
    cum = w_ord.rowsBetween(Window.unboundedPreceding,
                            Window.currentRow)
    return top.select(
        F.row_number().over(w_ord).alias("rnk"),
        "word", F.col("freq").cast("bigint").alias("freq"),
        F.round(F.sum("freq").over(cum).cast("double")
                / F.col("_tot"), 6).alias("cum_share"))


@query("doc_repetition", oracle=r"""
WITH w AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS word
  FROM documents),
wc AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
ws AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_words,
         count(*) AS n_distinct_words,
         max(c) AS top_word_n
  FROM wc GROUP BY 1),
b AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(wd) - 1),
                                       i -> wd[i] || ' ' || wd[i+1])) AS bg
  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS wd
        FROM documents)
  WHERE len(wd) >= 2),
bc AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2),
bs AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_bigrams,
         count(*) AS n_distinct_bigrams,
         max(c) AS top_bigram_n
  FROM bc GROUP BY 1)
SELECT ws.doc_id, ws.n_words,
       round(CAST(ws.n_distinct_words AS DOUBLE) / ws.n_words, 6)
         AS distinct_word_frac,
       round(CAST(ws.top_word_n AS DOUBLE) / ws.n_words, 6)
         AS top_word_frac,
       round(1 - CAST(bs.n_distinct_bigrams AS DOUBLE) / bs.n_bigrams, 6)
         AS dup_bigram_frac,
       round(CAST(bs.top_bigram_n AS DOUBLE) / bs.n_bigrams, 6)
         AS top_bigram_frac
FROM ws JOIN bs USING (doc_id)
""")
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher/MassiveText family,
    adapted to a newline-free corpus): distinct-word fraction, most-
    frequent-word fraction, duplicate-bigram fraction, most-frequent-
    bigram fraction. Two explode→count→re-aggregate passes (words,
    bigrams) joined on doc_id — partial aggregation keeps both
    map-side-combinable; no per-doc quadratic HOFs."""
    from map_reduce_mongodb_spark.functions import text as T
    docs = table(spark, "documents", sf_dir)
    wc = (docs.select("doc_id",
                      F.explode(T.words(F.col("text"))).alias("word"))
              .groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c")))
    ws = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("c").alias("top_word_n"))
    bc = (docs.select(
              "doc_id",
              F.explode(T.word_shingles(F.col("text"), 2, distinct=False))
               .alias("bg"))
              .groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c")))
    bs = bc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        F.max("c").alias("top_bigram_n"))
    return (ws.join(bs, "doc_id")
              .select(
                  "doc_id", "n_words",
                  F.round(F.col("n_distinct_words").cast("double")
                          / F.col("n_words"), 6)
                   .alias("distinct_word_frac"),
                  F.round(F.col("top_word_n").cast("double")
                          / F.col("n_words"), 6).alias("top_word_frac"),
                  F.round(F.lit(1)
                          - F.col("n_distinct_bigrams").cast("double")
                          / F.col("n_bigrams"), 6).alias("dup_bigram_frac"),
                  F.round(F.col("top_bigram_n").cast("double")
                          / F.col("n_bigrams"), 6).alias("top_bigram_frac")))


@query("tfidf_top_terms", oracle=r"""
WITH w AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS c FROM w GROUP BY 1, 2),
ws AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words
       FROM tf GROUP BY 1),
dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round((CAST(tf.c AS DOUBLE) / ws.n_words)
               * ln(CAST(n.n_docs AS DOUBLE) / dfc.df), 6) AS tfidf
  FROM tf JOIN ws USING (doc_id) JOIN dfc USING (term) CROSS JOIN n)
SELECT doc_id, term, tfidf FROM (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored)
WHERE rn <= 3
""")
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the classic keyword extractor.
    tf and df come from one explode→(doc,term) partial-aggregated
    count; idf's corpus size joins in as a broadcast single-row
    aggregate (no driver collect); top-k ranks on the ROUNDED score
    with a term tie-break so the selected set is engine-independent."""
    from map_reduce_mongodb_spark.cache import tracked_persist
    from map_reduce_mongodb_spark.functions import text as T
    docs = table(spark, "documents", sf_dir)
    # tf feeds three consumers (scores, per-doc totals, df counts) —
    # persist or the explode+agg runs three times.
    tf = tracked_persist(
        docs.select("doc_id",
                    F.explode(T.words(F.col("text"))).alias("term"))
            .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c")))
    ws = tf.groupBy("doc_id").agg(F.sum("c").alias("n_words"))
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (tf.join(ws, "doc_id").join(dfc, "term")
                .crossJoin(F.broadcast(n))
                .select("doc_id", "term",
                        F.round((F.col("c").cast("double") / F.col("n_words"))
                                * F.log(F.col("n_docs").cast("double")
                                        / F.col("df")), 6).alias("tfidf")))
    rn = F.row_number().over(
        Window.partitionBy("doc_id")
              .orderBy(F.desc("tfidf"), F.asc("term")))
    return (scored.withColumn("rn", rn).where(F.col("rn") <= 3)
                  .drop("rn"))


@query("unigram_logprob", oracle=r"""
WITH w AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS word
  FROM documents),
freq AS (SELECT word, count(*) AS c FROM w GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq),
scored AS (
  SELECT w.doc_id, ln(freq.c / tot.n) AS lp
  FROM w JOIN freq USING (word) CROSS JOIN tot)
SELECT doc_id,
       count(*) AS n_words,
       round(-avg(lp), 6) AS avg_neg_logprob
FROM scored
GROUP BY doc_id
""")
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: per-document mean negative log
    probability under the corpus's own unigram distribution — the
    cheapest LM-based quality filter (outlier docs score high). One
    explode feeds both the frequency table and the scoring join; the
    corpus total attaches as a broadcast single-row aggregate."""
    from map_reduce_mongodb_spark.cache import tracked_persist
    from map_reduce_mongodb_spark.functions import text as T
    docs = table(spark, "documents", sf_dir)
    w = tracked_persist(
        docs.select("doc_id",
                    F.explode(T.words(F.col("text"))).alias("word")))
    freq = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").cast("double").alias("n"))
    scored = (w.join(freq, "word")
               .crossJoin(F.broadcast(tot))
               .select("doc_id",
                       F.log(F.col("c") / F.col("n")).alias("lp")))
    return (scored.groupBy("doc_id")
                  .agg(F.count(F.lit(1)).alias("n_words"),
                       F.round(-F.avg("lp"), 6).alias("avg_neg_logprob")))


@query("stratified_sample", oracle=r"""
SELECT lang, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5('strat' || CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rn
  FROM documents)
WHERE rn <= 3
""")
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: 3 docs per language, chosen
    by ranking on a salted md5 of the id — an unbiased-but-reproducible
    draw (same sample every run/engine), the audit-sample primitive
    for human review queues. Per-stratum top-k = one window, no global
    sort."""
    docs = table(spark, "documents", sf_dir)
    rn = F.row_number().over(
        Window.partitionBy("lang")
              .orderBy(F.md5(F.concat(F.lit("strat"),
                                      F.col("doc_id").cast("string"))),
                       F.col("doc_id")))
    return (docs.select("lang", "doc_id", "n_chars")
                .withColumn("rn", rn).where(F.col("rn") <= 3)
                .drop("rn"))


# =====================================================================
# Deduplication (north-star: exact + near-dup families)
# =====================================================================

@query("dedup_exact_groups", oracle=r"""
SELECT md5(regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS fp,
       min(doc_id) AS keep_id,
       count(*) AS n_dups
FROM documents
GROUP BY 1
""")
def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-md5 fingerprint;
    survivor = min doc_id. Uniform key → skew-free shuffle.

    CROSS-ENGINE CASEFOLD CONTRACT: the normalization lower()s the
    text, and the engines disagree on FULL vs SIMPLE Unicode case
    mapping (Spark/JDK: 'İ' → 'i' + U+0307 combining dot, two
    codepoints; DuckDB/utf8proc: 'İ' → 'i', one) — so the md5
    fingerprints only agree on text outside that class (all ASCII
    does; the fixtures are pinned pure-ASCII by
    test_corpus_is_pure_ascii). Within ONE engine the fingerprint is
    self-consistent either way; only the cross-engine oracle check
    carries this caveat (r9 randomized-data sweep, Turkish 'İ'
    probe)."""
    from map_reduce_mongodb_spark.operators.dedup import exact_dedup_groups
    return exact_dedup_groups(table(spark, "documents", sf_dir))


@query("ngram_jaccard_pairs", oracle=r"""
WITH sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(generate_series(1, len(w) - 2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, lang, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w
        FROM documents)
  WHERE len(w) >= 3)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
         AS jaccard
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE CAST(least(len(a.s), len(b.s)) AS DOUBLE)
        >= 0.7 * greatest(len(a.s), len(b.s)))
WHERE jaccard >= 0.7
""")
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force 3-gram-shingle Jaccard near-dup pairs within lang
    blocks — the exact baseline that MinHash-LSH approximates (the
    testdata plants pairs at J≈0.89-0.99 vs ~0.05 background)."""
    from map_reduce_mongodb_spark.operators.dedup import ngram_jaccard_pairs
    return ngram_jaccard_pairs(table(spark, "documents", sf_dir),
                               threshold=0.7, shingle_n=3, block_col="lang")


def _jaccard_pairs_07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-0.7 prefix-filtered exact-Jaccard pair list over
    documents — the shared upstream of FOUR registered queries
    (`jaccard_prefix_pairs`, `dup_provenance`, `dedup_clusters`,
    `dedup_survivors`). Materialized once per process via
    :func:`cache.shared_parquet`: at 100 TB the near-dup pair table is
    written to storage once and every downstream consumer reads it —
    the pair join is the most expensive stage of the dedup pipeline
    and must not re-run per consumer."""
    from map_reduce_mongodb_spark.cache import shared_parquet

    def build() -> DataFrame:
        from map_reduce_mongodb_spark.operators.dedup import (
            ngram_jaccard_pairs_prefix)
        return ngram_jaccard_pairs_prefix(
            table(spark, "documents", sf_dir), threshold=0.7)

    return shared_parquet(spark, f"jaccard_pairs_0.7_{sf_dir}", build)


@query("jaccard_prefix_pairs", oracle=r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(w) - 2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w
        FROM documents)
  WHERE len(w) >= 3)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
         AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(least(len(a.s), len(b.s)) AS DOUBLE)
        >= 0.7 * greatest(len(a.s), len(b.s)))
WHERE jaccard >= 0.7
""")
def q_jaccard_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered EXACT Jaccard pairs (AllPairs/PPJoin family):
    df-ordered prefixes enter the inverted-index join, high-frequency
    shingles drop out, full-array verification restores exactness —
    so the oracle is simply the brute-force answer (the machinery
    can't change the result, only the join volume; equality to the
    plain inverted index is also pinned in tests/test_dedup.py)."""
    return _jaccard_pairs_07(spark, sf_dir)


@query("dup_provenance", oracle=r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(w) - 2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w
        FROM documents)
  WHERE len(w) >= 3),
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
             AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(least(len(a.s), len(b.s)) AS DOUBLE)
          >= 0.7 * greatest(len(a.s), len(b.s)))
  WHERE jaccard >= 0.7)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*) AS n_pairs
FROM pairs
JOIN documents da ON pairs.id_a = da.doc_id
JOIN documents db ON pairs.id_b = db.doc_id
GROUP BY 1, 2
""")
def q_dup_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate PROVENANCE: which source pairs duplicate each other —
    the curation diagnostic behind "drop mirror B, it's 90% a copy of
    A". Near-dup pairs come from the prefix-filtered EXACT Jaccard
    join (the scale path); each side then picks up its document's
    source via a broadcast-size join and pairs aggregate on the
    unordered (source_a, source_b) key."""
    docs = table(spark, "documents", sf_dir)
    pairs = _jaccard_pairs_07(spark, sf_dir)
    src = docs.select("doc_id", "source")
    da = src.select(F.col("doc_id").alias("id_a"),
                    F.col("source").alias("src_a"))
    db = src.select(F.col("doc_id").alias("id_b"),
                    F.col("source").alias("src_b"))
    return (pairs.join(da, "id_a").join(db, "id_b")
                 .groupBy(F.least("src_a", "src_b").alias("source_a"),
                          F.greatest("src_a", "src_b").alias("source_b"))
                 .agg(F.count(F.lit(1)).alias("n_pairs")))


@query("minhash_dedup_pairs")  # no oracle: xxhash64 lanes are Spark-specific
def q_minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) candidates verified by true Jaccard —
    the scale path for near-dup dedup (only bucket-cohabitant pairs
    are verified; shingles and signatures are 8-byte xxhash64 lanes
    end-to-end). Rows-only driver check; recall vs the exact baseline
    is asserted in tests/test_dedup.py; `minhash_lsh_md5` runs the
    same pipeline on the md5 lane and is oracle-checked."""
    from map_reduce_mongodb_spark.operators.dedup import minhash_dedup_pairs
    return minhash_dedup_pairs(table(spark, "documents", sf_dir),
                               threshold=0.7)


def _simhash_fp_cte(bits: int = 32, shingle_n: int = 2) -> str:
    """Shared CTE chain producing (doc_id, simhash) in DuckDB with the
    exact bit math of operators/dedup.py:simhash_md5: per-shingle hash
    = first 8 md5 hex chars as unsigned int; fingerprint bit j = sign
    of the per-bit +/-1 sum."""
    grams = " || ' ' || ".join(f"w[i+{j}]" for j in range(shingle_n))
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits))
    fp = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(bits))
    return f"""
base AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, len(w) - {shingle_n - 1}),
             i -> {grams})) AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS w
        FROM documents)
  WHERE len(w) >= {shingle_n}),
tok AS (SELECT doc_id, unnest(s) AS g FROM base),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) AS h
  FROM tok),
bs AS (
  SELECT doc_id,
         {bit_sums}
  FROM hashed GROUP BY doc_id),
fp AS (
  SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bs)"""


def _simhash_fps_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 SimHash fingerprints over documents, materialized once per
    process and shared between `simhash_fingerprints` and
    `simhash_pairs` (the same write-once fingerprint-table layout as
    the winnow/minhash families)."""
    from map_reduce_mongodb_spark.cache import shared_parquet

    def build() -> DataFrame:
        from map_reduce_mongodb_spark.operators.dedup import simhash_md5
        return simhash_md5(table(spark, "documents", sf_dir))

    return shared_parquet(spark, f"simhash_fps_md5_{sf_dir}", build)


@query("simhash_fingerprints",
       oracle=f"WITH {_simhash_fp_cte()}\n"
              "SELECT doc_id, simhash FROM fp")
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (bigram shingles): near-dups land at
    small Hamming distance. md5-derived shingle hashes make the whole
    fingerprint reproducible in DuckDB — fully oracle-checked."""
    return _simhash_fps_md5(spark, sf_dir)


@query("approx_sketches")  # rows-only: HLL/quantile sketches are
# engine-specific by construction (approx_count_distinct is
# HyperLogLog++, approx_percentile is KLL/GK) — DuckDB's approx
# functions produce different estimates for the same data, so the
# driver records the weaker rows+schema check; accuracy vs EXACT
# values is gated in tests/test_sketches.py instead.
def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the sublinear-memory path for 100 TB scans
    where exact distinct counts / percentiles would need a full sort
    or shuffle: one pass, mergeable partial sketches, fixed memory.
    Exact twins of these aggregates live in stats_aggregates (which
    documents the opposite trade: exact percentile is sort-based and
    should switch to these sketches at scale)."""
    li = table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01)
        .alias("approx_parts_1pct"),
        F.percentile_approx("l_extendedprice", 0.5, 10000)
        .alias("approx_median_price"),
        F.percentile_approx("l_extendedprice", 0.95, 10000)
        .alias("approx_p95_price"),
    )


def _winnow_cte(gram_n: int = 3, window: int = 4) -> str:
    """CTE chain producing (doc_id, fps list) with the exact window-min
    math of operators/dedup.py:winnow_fingerprints (ordered word
    grams → md5-hex8 hashes → min per sliding window → distinct)."""
    grams = " || ' ' || ".join(f"w[i+{j}]" for j in range(gram_n))
    return f"""
base AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(w) - {gram_n - 1}),
                        i -> {grams}) AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS w
        FROM documents)
  WHERE len(w) - {gram_n - 1} >= {window}),
hashed AS (
  SELECT doc_id,
         list_transform(g, x -> substr(md5(x), 1, 8)) AS h
  FROM base),
mins AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, len(h) - {window - 1}),
             i -> list_min(h[i:i+{window - 1}]))) AS fps
  FROM hashed)"""


def _winnow_fps_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 winnowing fingerprints over documents, materialized once
    per process and shared between `winnow_fingerprints` and
    `winnow_dup_pairs` — same production layout as the xxhash64 twins
    (`_winnow_fps_fast`)."""
    from map_reduce_mongodb_spark.cache import shared_parquet

    def build() -> DataFrame:
        from map_reduce_mongodb_spark.operators.dedup import (
            winnow_fingerprints)
        return winnow_fingerprints(table(spark, "documents", sf_dir))

    return shared_parquet(spark, f"winnow_fps_md5_{sf_dir}", build)


@query("winnow_fingerprints",
       oracle=f"WITH {_winnow_cte()}\n"
              "SELECT doc_id, unnest(fps) AS fp FROM mins")
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash window-min) document fingerprints —
    MOSS-style passage fingerprinting, fully oracle-checked via the
    md5-lane hash. One row per (doc, selected fingerprint)."""
    return _winnow_fps_md5(spark, sf_dir)


@query("winnow_dup_pairs", oracle=f"""
WITH {_winnow_cte()},
fps AS (SELECT doc_id, unnest(fps) AS fp FROM mins)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 3
""")
def q_winnow_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-copy detection: pairs sharing ≥3 winnowing fingerprints
    (inverted-index self-join on the fingerprint — same scale shape as
    the n-gram Jaccard operator), oracle-checked end-to-end; reads the
    once-materialized fingerprint table (`_winnow_fps_md5`)."""
    from map_reduce_mongodb_spark.operators.dedup import winnow_pair_search
    return winnow_pair_search(_winnow_fps_md5(spark, sf_dir),
                              min_shared=3)


# The same dedup operators on their xxhash64 lane (``hasher=``). md5
# keeps the queries above SQL-reproducible (the whole point of the
# oracle-checked lane), but it is a cryptographic digest where the
# algorithm only needs a uniform hash — xxhash64 runs the same
# selection/join code ~5× cheaper. No oracle by design (xxhash64 is
# Spark-specific); correctness is gated in
# tests/test_dedup.py: the ngram lane must EQUAL the exact string-join
# answer, the winnow lane must find the planted passage copies.

def _winnow_fps_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 winnowing fingerprints over documents, materialized
    ONCE per process (cache.shared_parquet) and shared between
    `winnow_fingerprints_fast` (the listing) and
    `winnow_dup_pairs_fast` (the pair search) — the production
    layout: a fingerprint table is written to storage once and every
    consumer reads it, not rebuilt per query."""
    from map_reduce_mongodb_spark.cache import shared_parquet

    def build() -> DataFrame:
        from map_reduce_mongodb_spark.operators.dedup import (
            winnow_fingerprints)
        return winnow_fingerprints(table(spark, "documents", sf_dir),
                                   hasher="xxhash64")

    return shared_parquet(spark, f"winnow_fps_xxh64_{sf_dir}", build)


@query("winnow_fingerprints_fast")  # rows-only: xxhash64 is Spark-only
def q_winnow_fingerprints_fast(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Winnowing fingerprints over xxhash64 gram hashes — identical
    selection scheme to `winnow_fingerprints` (window-min of rolling
    gram hashes; the shared-run guarantee holds for any hash), minus
    the md5 oracle-portability tax."""
    return _winnow_fps_fast(spark, sf_dir)


@query("winnow_dup_pairs_fast")  # rows-only: xxhash64 is Spark-only
def q_winnow_dup_pairs_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-copy pairs over xxhash64 winnowing fingerprints — the
    bench-path twin of `winnow_dup_pairs` (same inverted-index join,
    integer fingerprints instead of md5 hex), fed by the
    once-materialized fingerprint table (`_winnow_fps_fast`)."""
    from map_reduce_mongodb_spark.operators.dedup import winnow_pair_search
    return winnow_pair_search(_winnow_fps_fast(spark, sf_dir),
                              min_shared=3)


@query("ngram_jaccard_pairs_fast")  # rows-only: xxhash64 is Spark-only
def q_ngram_jaccard_pairs_fast(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs with xxhash64-hashed postings: the
    inverted-index join ships 8-byte keys instead of shingle strings.
    Same answer as `ngram_jaccard_pairs` up to 2⁻⁶⁴ collisions
    (equality pinned in tests/test_dedup.py)."""
    from map_reduce_mongodb_spark.operators.dedup import ngram_jaccard_pairs
    return ngram_jaccard_pairs(table(spark, "documents", sf_dir),
                               threshold=0.7, shingle_n=3,
                               block_col="lang", hasher="xxhash64")


def _simhash_pairs_oracle(max_hamming: int = 3, bits: int = 32) -> str:
    nb = max_hamming + 1
    widths = [bits // nb + (1 if j < bits % nb else 0) for j in range(nb)]
    starts = [sum(widths[:j]) for j in range(nb)]
    block_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {j} AS blk, "
        f"(simhash >> {starts[j]}) & {(1 << widths[j]) - 1} AS val FROM fp"
        for j in range(nb))
    return f"""
WITH {_simhash_fp_cte()},
blocks AS (
  {block_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.val = b.val
  WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM (
  SELECT id_a, id_b,
         CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
  FROM cand JOIN fp x ON x.doc_id = id_a
            JOIN fp y ON y.doc_id = id_b)
WHERE hamming <= {max_hamming}
"""


@query("simhash_pairs", oracle=_simhash_pairs_oracle())
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs within Hamming distance 3 of each other's SimHash
    — the pair-search operator that makes fingerprints actionable:
    pigeonhole block split → equality self-join on (block, value) →
    popcount verify. Fully oracle-checked end-to-end (fingerprints AND
    pair search) thanks to the md5-derived bit math; reads the
    once-materialized fingerprint table (`_simhash_fps_md5`)."""
    from map_reduce_mongodb_spark.operators.dedup import simhash_pairs
    fps = _simhash_fps_md5(spark, sf_dir)
    return simhash_pairs(fps, max_hamming=3).withColumn(
        "hamming", F.col("hamming").cast("int"))


#: Shared recursive-CTE chain ending in cc(doc_id, cluster_id) — the
#: transitive closure of the threshold-0.7 exact-Jaccard pair graph
#: (min reachable id == component min on an undirected graph).
_CC_CTE = r"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(w) - 2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w
        FROM documents)
  WHERE len(w) >= 3),
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(least(len(a.s), len(b.s)) AS DOUBLE)
          >= 0.7 * greatest(len(a.s), len(b.s)))
  WHERE jac >= 0.7),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
"""


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(id, cc)`` connected-component labels of the threshold-0.7
    exact-Jaccard pair graph over documents — the shared upstream of
    ``dedup_clusters`` AND ``dedup_survivors``. Materialized ONCE per
    process via :func:`cache.shared_parquet`: at 100 TB the label
    table is the artifact you write to storage once and every
    downstream consumer (cluster reporting, survivor filtering,
    provenance) reads — rebuilding the prefix-filter join + CC rounds
    per consumer would double the most expensive stage of the dedup
    pipeline, which is exactly what the shared materialization
    removes here (measured: the pair of registered queries was 2×5s,
    now 5s + a parquet scan)."""
    from map_reduce_mongodb_spark.cache import shared_parquet

    def build() -> DataFrame:
        from map_reduce_mongodb_spark.operators.graph import (
            connected_components)
        pairs = _jaccard_pairs_07(spark, sf_dir)
        return connected_components(pairs, src="id_a", dst="id_b")

    return shared_parquet(spark, f"cc_labels_0.7_{sf_dir}", build)


@query("dedup_clusters", oracle=_CC_CTE + """
SELECT c.doc_id, c.cluster_id, s.cluster_size
FROM cc c JOIN (SELECT cluster_id, count(*) AS cluster_size
                FROM cc GROUP BY cluster_id) s USING (cluster_id)
""")
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair graph → connected components → cluster assignment
    (doc_id, cluster_id = component-min doc, cluster_size) — the step
    that turns pairwise dedup output into keep-one-per-cluster
    decisions. Spark side runs alternating large-star/small-star
    (operators/graph.py) over the ONCE-materialized label table
    (`_cc_labels`); the oracle computes the same components with
    a recursive transitive-closure CTE (min reachable id == component
    min on an undirected graph)."""
    from map_reduce_mongodb_spark.operators.graph import (
        cluster_assignments)
    return cluster_assignments(_cc_labels(spark, sf_dir),
                               id_out="doc_id")


@query("dedup_survivors", oracle=_CC_CTE + """
SELECT lang, count(*) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)
GROUP BY lang
""")
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLIED form of dedup clustering: drop every cluster member
    except the canonical minimum and account for what survives per
    language — i.e. the deduplicated corpus a training run would
    consume. Reuses the once-materialized component labels
    (`_cc_labels`) instead of re-running the pair join + CC; the
    non-canonical members anti-join out of the full table — un-hinted
    (the drop list scales with the corpus's duplicate count: the
    planner broadcasts it at graded SFs, shuffles the id-keyed anti
    join at 100 TB)."""
    docs = table(spark, "documents", sf_dir)
    labels = _cc_labels(spark, sf_dir)
    removed = (labels.where(F.col("id") != F.col("cc"))
                     .select(F.col("id").alias("doc_id")))
    return (docs.join(removed, "doc_id", "left_anti")
                .groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n_kept"),
                     F.sum("n_chars").alias("kept_chars")))


@query("dup_graph_stats", oracle=_CC_CTE + """
, deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d
          FROM edges GROUP BY src),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM pairs e1 JOIN pairs e2 ON e2.id_a = e1.id_b
       JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
       (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT) FROM cc)
         AS n_components,
       (SELECT n_triangles FROM tri) AS n_triangles,
       (SELECT CASE WHEN sum(d * (d - 1)) = 0 THEN 0.0
               ELSE round(6.0 * (SELECT n_triangles FROM tri)
                          / sum(d * (d - 1)), 6) END
        FROM deg) AS clustering_coeff
""")
def q_dup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural statistics of the near-dup pair graph — the health
    check run on a dedup candidate graph before acting on it (a
    pathological crawl shows up as one giant low-clustering component;
    true duplicate sets show as small dense cliques): node/edge/
    component counts, triangle count, and the global clustering
    coefficient (3·triangles / wedges, wedges = Σ d(d-1)/2).

    Triangle counting is the textbook two-join formulation on the
    ordered edge list (a<b<c), so join volume is bounded by the pair
    graph — which the threshold already made sparse — never the
    corpus; both the pair list and the component labels come from the
    once-materialized shared artifacts (`_jaccard_pairs_07`,
    `_cc_labels`), so this costs three small joins at any scale."""
    pairs = _jaccard_pairs_07(spark, sf_dir).select("id_a", "id_b")
    labels = _cc_labels(spark, sf_dir)
    e1 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = pairs.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    e3 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = (e1.join(e2, "b").join(e3, ["a", "c"])
             .agg(F.count(F.lit(1)).alias("n_triangles")))
    deg = (pairs.select(F.col("id_a").alias("id"))
           .unionAll(pairs.select(F.col("id_b").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("d")))
    wedges = deg.agg(F.sum(F.col("d") * (F.col("d") - 1)).alias("w2"))
    counts = (deg.agg(F.count(F.lit(1)).alias("n_nodes"))
              .crossJoin(pairs.agg(F.count(F.lit(1)).alias("n_edges")))
              .crossJoin(labels.agg(F.countDistinct("cc")
                                    .alias("n_components"))))
    return (counts.crossJoin(tri).crossJoin(wedges)
            .select("n_nodes", "n_edges", "n_components", "n_triangles",
                    F.when(F.col("w2") == 0, F.lit(0.0))
                    .otherwise(F.round(6.0 * F.col("n_triangles")
                                       / F.col("w2"), 6))
                    .alias("clustering_coeff")))


# =====================================================================
# Similarity search (north-star: embeddings)
# =====================================================================

def _cosine_topk_oracle(dim: int = 64, k: int = 5, nq: int = 10) -> str:
    from map_reduce_mongodb_spark.functions.vectors import cosine_unrolled_sql
    cos = cosine_unrolled_sql("qv", "cv", dim)
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < {nq}),
     c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
     scored AS (
       SELECT query_id, neighbor_id, {cos} AS cosine
       FROM c, q WHERE neighbor_id <> query_id)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= {k}
"""


def _hybrid_search_oracle(dim: int = 64, k: int = 5, nq: int = 5) -> str:
    from map_reduce_mongodb_spark.functions.vectors import cosine_unrolled_sql
    cos = cosine_unrolled_sql("qv", "cv", dim)
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < {nq}),
     c AS (
       SELECT e.vec_id AS neighbor_id, e.embedding AS cv, d.lang
       FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
       WHERE d.lang = 'en'
         AND len(string_split_regex(trim(d.text), '[ \\t\\n\\x0B\\f\\r]+')) >= 30),
     scored AS (
       SELECT query_id, neighbor_id, lang, {cos} AS cosine
       FROM c, q WHERE neighbor_id <> query_id)
SELECT query_id, neighbor_id, lang, cosine, rank FROM (
  SELECT query_id, neighbor_id, lang, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= {k}
"""


@query("hybrid_search", oracle=_hybrid_search_oracle())
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid (filtered) vector search: metadata predicates from the
    documents table (lang = 'en', ≥30 words) gate the corpus BEFORE
    ranking by cosine — filter-then-rank, the retrieval shape RAG
    pipelines run. The metadata join prunes the corpus ahead of any
    vector math; queries broadcast; per-query ranking window."""
    from map_reduce_mongodb_spark.functions import text as T
    from map_reduce_mongodb_spark.operators.similarity import (
        cosine_topk_bruteforce)
    emb = table(spark, "embeddings", sf_dir)
    docs = (table(spark, "documents", sf_dir)
            .where((F.col("lang") == "en")
                   & (T.word_count(F.col("text")) >= 30))
            .select("doc_id", "lang"))
    corpus = emb.join(docs, emb.vec_id == docs.doc_id).drop("doc_id")
    out = cosine_topk_bruteforce(corpus, query_ids=list(range(5)), k=5,
                                 queries_df=emb)
    meta = docs.select(F.col("doc_id").alias("neighbor_id"), "lang")
    return out.join(meta, "neighbor_id")


def _ivf_topk_oracle(dim: int = 64, k: int = 5, nq: int = 10,
                     n_centroids: int = 16, nprobe: int = 4) -> str:
    from map_reduce_mongodb_spark.functions.vectors import (
        cosine_unrolled_sql)
    ccos = cosine_unrolled_sql("vv", "cv", dim)
    qcos = cosine_unrolled_sql("qv", "cv_n", dim)
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings
  WHERE vec_id < {n_centroids}),
v AS (SELECT vec_id AS vid, embedding AS vv FROM embeddings),
ranked AS (
  SELECT vid, vv, cid,
         row_number() OVER (PARTITION BY vid
                            ORDER BY {ccos} DESC, cid) AS crank
  FROM v CROSS JOIN cents),
assign AS (
  SELECT vid AS neighbor_id, vv AS cv_n, cid FROM ranked WHERE crank = 1),
probes AS (
  SELECT vid AS query_id, vv AS qv, cid FROM ranked
  WHERE vid < {nq} AND crank <= {nprobe}),
cands AS (
  SELECT query_id, neighbor_id, {qcos} AS cosine
  FROM probes JOIN assign USING (cid)
  WHERE neighbor_id <> query_id)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cands)
WHERE rank <= {k}
"""


@query("ivf_topk", oracle=_ivf_topk_oracle())
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest-neighbour top-5 for query vectors
    (vec_id < 10): deterministic coarse quantizer (16 cells, probe 4)
    — the unusual part is that the ENTIRE ANN index is oracle-checked:
    cell assignment uses the same unrolled arithmetic in both engines,
    so candidate sets and rankings match bit-for-bit."""
    from map_reduce_mongodb_spark.operators.similarity import ivf_topk
    return ivf_topk(table(spark, "embeddings", sf_dir),
                    query_ids=list(range(10)), k=5)


def _ivf_kmeans_cents(spark: SparkSession, sf_dir: str):
    """The trained coarse quantizer (16 centroids, 2 Lloyd passes)
    shared by `ivf_kmeans_topk` AND its probe-all gate via
    `cache.shared_value`: the gate then certifies the SAME index
    instance the production query serves (stronger than relying on
    retraining determinism, which is partition-layout-sensitive in
    the last bit), and the multi-pass training scan — the expensive
    stage at 100 TB — runs once per process."""
    from map_reduce_mongodb_spark.cache import shared_value
    from map_reduce_mongodb_spark.operators.similarity import (
        kmeans_centroids)
    return shared_value(
        f"ivf_kmeans_cents_16x2_{sf_dir}",
        lambda: kmeans_centroids(table(spark, "embeddings", sf_dir),
                                 n_centroids=16, n_iters=2))


@query("ivf_kmeans_topk")  # no oracle: iterative Lloyd refinement
def q_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 over spherical-k-means-REFINED centroids (2 Lloyd
    iterations) — same probe machinery as ivf_topk but cells follow
    the data's cluster structure. Rows-only by design (iterative
    refinement isn't SQL-reproducible); correctness is gated closed-
    loop in tests/test_similarity.py: probing ALL cells equals brute
    force for ANY centroids, clustered-corpus recall ≥0.9 at
    nprobe=1, and results are deterministic. Searches the shared
    trained quantizer (`_ivf_kmeans_cents`) — the probe-all gate
    hash-checks this exact index instance."""
    from map_reduce_mongodb_spark.operators.similarity import (
        ivf_kmeans_topk)
    return ivf_kmeans_topk(table(spark, "embeddings", sf_dir),
                           query_ids=list(range(10)), k=5, n_iters=2,
                           cents=_ivf_kmeans_cents(spark, sf_dir))


@query("ivf_kmeans_probe_all", oracle=_cosine_topk_oracle())
def q_ivf_kmeans_probe_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DRIVER-CHECKABLE twin of ivf_kmeans_topk: identical index
    build (2 Lloyd iterations, same centroids, same probe machinery)
    with nprobe = n_centroids, i.e. every cell probed. Probing all
    cells examines every corpus vector exactly once (each is assigned
    to exactly one cell), and the re-rank uses the same unrolled
    left-associated cosine as the brute-force oracle — so for ANY
    centroid set the result is PROVABLY the exact top-k, and the
    DuckDB brute-force oracle can hash-check the whole k-means
    pipeline end-to-end (the closed-loop gate from
    tests/test_similarity.py, promoted to a driver row). "Identical
    index" is literal: both twins search the ONE shared trained
    quantizer (`_ivf_kmeans_cents`), so this hash-green row certifies
    the index instance `ivf_kmeans_topk` actually serves. "Every cell"
    is likewise literal: `probe_all=True` derives nprobe from the
    SHARED index's cell count inside the operator (the ivfpq_topk
    len(cents) contract) — a hardcoded nprobe could silently probe a
    subset if the shared quantizer's size ever changed (ADVICE r7)."""
    from map_reduce_mongodb_spark.operators.similarity import (
        ivf_kmeans_topk)
    return ivf_kmeans_topk(table(spark, "embeddings", sf_dir),
                           query_ids=list(range(10)), k=5, n_iters=2,
                           probe_all=True,
                           cents=_ivf_kmeans_cents(spark, sf_dir))


@query("cosine_topk", oracle=_cosine_topk_oracle())
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbours for query vectors (vec_id < 10):
    broadcast queries × corpus scan + ranking window. The dot product
    is an unrolled left-associated sum → bit-identical to the oracle."""
    from map_reduce_mongodb_spark.operators.similarity import (
        cosine_topk_bruteforce)
    emb = table(spark, "embeddings", sf_dir)
    return cosine_topk_bruteforce(emb, query_ids=list(range(10)), k=5)


def _knn_classify_oracle(dim: int = 64, k: int = 5, nq: int = 10) -> str:
    from map_reduce_mongodb_spark.functions.vectors import (
        cosine_unrolled_sql)
    cos = cosine_unrolled_sql("qv", "cv", dim)
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < {nq}),
     c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label
           FROM embeddings),
     topk AS (
       SELECT query_id, label FROM (
         SELECT query_id, label,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY {cos} DESC, neighbor_id)
                  AS rank
         FROM c, q WHERE neighbor_id <> query_id)
       WHERE rank <= {k}),
     votes AS (
       SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
       FROM topk GROUP BY query_id, label)
SELECT query_id, label AS predicted_label, votes FROM (
  SELECT query_id, label, votes,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, label) AS vr
  FROM votes)
WHERE vr = 1
"""


@query("knn_classify", oracle=_knn_classify_oracle())
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label classification over the embedding corpus — the
    label-propagation shape (auto-labeling a new document from its
    nearest labeled neighbours): exact top-5 cosine neighbours per
    query vector, majority vote over their labels (ties broken by
    label order for determinism). Composition of the brute-force
    top-k (broadcast queries × corpus scan — corpus never shuffles)
    with two tiny per-query aggregations; bit-identical cosine keeps
    the vote itself hash-checkable. At scale the top-k stage swaps
    for the IVF/LSH index paths — the vote is index-agnostic."""
    from map_reduce_mongodb_spark.operators.similarity import (
        cosine_topk_bruteforce)
    emb = table(spark, "embeddings", sf_dir)
    topk = cosine_topk_bruteforce(emb, query_ids=list(range(10)), k=5)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
    votes = (topk.join(labels, "neighbor_id")
             .groupBy("query_id", "label")
             .agg(F.count(F.lit(1)).alias("votes")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("label"))
    return (votes.withColumn("vr", F.row_number().over(w))
            .filter(F.col("vr") == 1)
            .select("query_id", F.col("label").alias("predicted_label"),
                    "votes"))


@query("ann_lsh_topk")  # no oracle: approximate by design
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via sign-LSH (8 hyperplanes × 2 tables, fixed
    seed): candidates are bucket cohabitants only. Rows-only driver
    check; recall vs brute force asserted in tests/test_similarity.py."""
    from map_reduce_mongodb_spark.operators.similarity import ann_lsh_topk
    emb = table(spark, "embeddings", sf_dir)
    return ann_lsh_topk(emb, query_ids=list(range(10)), k=5)


@query("embedding_norm_stats", oracle=f"""
SELECT label,
       count(*) AS n,
       round(avg(sqrt({'+'.join(f'CAST(embedding[{i}] AS DOUBLE)*CAST(embedding[{i}] AS DOUBLE)' for i in range(1, 65))})), 6) AS avg_norm
FROM embeddings
GROUP BY label
""")
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding count + mean L2 norm (vector column hygiene
    check; norm per row is bit-identical, avg rounded)."""
    from map_reduce_mongodb_spark.functions.vectors import norm_sq_unrolled
    emb = table(spark, "embeddings", sf_dir)
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.sqrt(norm_sq_unrolled("embedding", 64))), 6)
        .alias("avg_norm"),
    )


@query("embedding_quantize", oracle="""
WITH s AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) / 127.0
           AS scale
  FROM embeddings),
q AS (
  SELECT vec_id, label, xd, scale,
         list_transform(xd, x ->
             CASE WHEN scale = 0 THEN 0
                  ELSE CAST(least(127.0, greatest(-127.0,
                            floor(x / scale + 0.5))) AS INTEGER) END) AS qv
  FROM s)
SELECT vec_id, label,
       round(scale, 9) AS scale_r,
       list_min(qv) AS q_min,
       list_max(qv) AS q_max,
       round(sqrt(list_sum(list_transform(generate_series(1, len(xd)),
                 i -> (xd[i] - qv[i] * scale) * (xd[i] - qv[i] * scale)))
             / len(xd)), 6) AS rmse
FROM q
""")
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (per-vector
    absmax scale, the standard layout for shipping vectors to ANN
    serving) plus reconstruction RMSE. All array HOFs — quantize,
    clamp, error fold — run JVM-side; ``floor(x/scale + 0.5)`` instead
    of ``round`` because the two engines disagree on half-way doubles
    while ``floor`` is exact in both."""
    emb = table(spark, "embeddings", sf_dir)
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", "label", xd.alias("xd"))
    base = base.withColumn(
        "scale",
        F.array_max(F.transform(F.col("xd"), F.abs)) / F.lit(127.0))
    qv = F.transform(
        F.col("xd"),
        lambda x: F.when(F.col("scale") == 0, F.lit(0)).otherwise(
            F.least(F.lit(127.0), F.greatest(F.lit(-127.0),
                    F.floor(x / F.col("scale") + F.lit(0.5))
                     .cast("double"))).cast("int")))
    quant = base.withColumn("qv", qv)
    err2 = F.aggregate(
        F.zip_with(F.col("xd"), F.col("qv"),
                   lambda x, q: (x - q.cast("double") * F.col("scale"))
                   * (x - q.cast("double") * F.col("scale"))),
        F.lit(0.0), lambda acc, x: acc + x)
    return quant.select(
        "vec_id", "label",
        F.round(F.col("scale"), 9).alias("scale_r"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
        F.round(F.sqrt(err2 / F.size("xd")), 6).alias("rmse"))


# =====================================================================
# Streaming-shape windows over events (batch-verifiable; the same
# builders run under readStream — see streaming/windows.py)
# =====================================================================

@query("events_sliding_window", oracle="""
WITH expanded AS (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
                ]) AS window_start,
         event_type, value
  FROM events)
SELECT window_start, event_type,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
         / count(*) / 100.0 AS avg_value,
       count(*) AS n
FROM expanded
GROUP BY window_start, event_type
""")
def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h window sliding by 30min (each event lands in exactly two
    windows; the oracle expands them explicitly). The average is
    exact-cents accumulation / one trailing division (see
    streaming/windows.py:sliding_avg — round(avg(double), 4) straddled
    ulp boundaries between engines at sf0.1)."""
    from map_reduce_mongodb_spark.streaming.windows import sliding_avg
    return sliding_avg(table(spark, "events", sf_dir),
                       window="1 hour", slide="30 minutes")


@query("events_sessionization", oracle="""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       user_id,
       count(*) AS n_events,
       round(sum(value), 2) AS session_value
FROM sess
GROUP BY user_id, sid
""")
def q_events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization with a 30-minute inactivity gap
    (`session_window`); the oracle is the classic gaps-and-islands SQL.
    Session end = last event + gap (Spark's session_window contract)."""
    from map_reduce_mongodb_spark.streaming.windows import session_counts
    return session_counts(table(spark, "events", sf_dir), gap="30 minutes")


# =====================================================================
# Multimodal columns (north-star; decode is stubbed — see
# operators/multimodal.py module doc)
# =====================================================================

#: Shared multimodal-oracle prefix (VERDICT r10 #5): the payload
#: synthesis source, reconstructed engine-portably for ANY corpus.
#: Payloads derive from md5(text) — 32 pure-ASCII hex chars both
#: engines compute identically over the UTF-8 bytes — NOT from the
#: text bytes, so char==byte and ascii()==sample-byte hold even on
#: full-Unicode corpora (the old length(text)/repeat(text) oracles
#: were valid only under the pure-ASCII corpus contract). `n` is the
#: pseudo-length in [4, 991] (first two hex chars — no hex→int cast,
#: which the engines spell differently; floor 4 ≥ max WAV block align
#: so every clip has ≥1 frame); `raw` is the synthesis byte
#: source: the digest repeated to ≥991 chars, truncated to n. Mirrors
#: operators/multimodal.py::_payload_source exactly.
_MEDIA_RAW_CTE = """
WITH _media_seed AS (
  SELECT doc_id, text,
         4 + (ascii(substr(md5(text), 1, 1)) * 256
              + ascii(substr(md5(text), 2, 1))) % 988 AS n,
         md5(text) AS sd
  FROM documents),
media_raw AS (
  SELECT doc_id, text, n,
         substring(repeat(sd, 31), 1, CAST(n AS INT)) AS raw
  FROM _media_seed)"""


@query("multimodal_inventory", oracle=_MEDIA_RAW_CTE + """,
m AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         n AS len
  FROM media_raw),
sized AS (
  SELECT media_type,
         CASE media_type
           WHEN 'image' THEN
             13 + (16 + len % 48) * (16 + (len // 7) % 48) * 3
           WHEN 'audio' THEN 44 + len - (len % (2 * (1 + len % 2)))
           ELSE 37 + (2 + len % 7)
                * (6 + (16 + len % 32) * (16 + (len // 5) % 32) * 3)
         END AS nbytes
  FROM m)
SELECT media_type,
       count(*) AS n,
       CAST(sum(nbytes) AS BIGINT) AS total_bytes,
       min(nbytes) AS min_bytes,
       max(nbytes) AS max_bytes
FROM sized
GROUP BY media_type
""")
def q_multimodal_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column accounting over the synthesized media table. The
    payloads are WELL-FORMED files (binary PPM / PCM WAV — see
    multimodal._synth_payload), whose sizes are closed-form in the
    md5-derived pseudo-length n (engine-portable for any corpus —
    _MEDIA_RAW_CTE): PPM = 13-byte header + w·h·3 pixels, WAV =
    44-byte header + frame-aligned data, Y4M = 37-byte header +
    n_frames·(6 + w·h·3). The oracle recomputes those formulas."""
    from map_reduce_mongodb_spark.operators.multimodal import (
        media_from_documents)
    media = media_from_documents(table(spark, "documents", sf_dir))
    return media.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("data")).alias("total_bytes"),
        F.min(F.length("data")).alias("min_bytes"),
        F.max(F.length("data")).alias("max_bytes"),
    )


@query("multimodal_decode_stats", oracle=_MEDIA_RAW_CTE + """,
d AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         n AS len
  FROM media_raw),
g AS (
  SELECT media_type,
         CASE media_type WHEN 'image' THEN 16 + len % 48
                         WHEN 'audio' THEN 0
                         ELSE 16 + len % 32 END AS width,
         CASE media_type WHEN 'image' THEN 16 + (len // 7) % 48
                         WHEN 'audio' THEN 0
                         ELSE 16 + (len // 5) % 32 END AS height,
         CASE media_type WHEN 'image' THEN 1
                         WHEN 'audio' THEN
                           (len - (len % (2 * (1 + len % 2))))
                             // (2 * (1 + len % 2))
                         ELSE 2 + len % 7 END AS n_frames
  FROM d)
SELECT media_type,
       count(*) AS n,
       avg(width) AS avg_width,
       avg(height) AS avg_height,
       CAST(sum(n_frames) AS BIGINT) AS total_frames
FROM g
GROUP BY media_type
""")
def q_multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode for ALL THREE media types + aggregation over the
    decoded geometry: the Spark side genuinely parses the synthesized
    PPM headers (with pixel-array validation), WAV headers (stdlib
    ``wave``) and Y4M streams (strict FRAME-walking parser) inside
    the Arrow mapInPandas stage. The oracle recomputes what a correct
    parse MUST find from the synthesis formulas (PPM w/h from the
    md5-derived n; WAV frame count from frame-aligned data size; Y4M w/h/
    frame-count from the Y4M synthesis geometry) — so a broken parser
    or malformed synthesis fails the hash, not just a schema check.
    avgs are emitted UNROUNDED: sum-of-ints/count divides identically
    in both engines, while round(x, 2) can disagree on half-way
    doubles."""
    from map_reduce_mongodb_spark.operators.multimodal import (
        decode_media, media_from_documents)
    media = decode_media(media_from_documents(table(spark, "documents", sf_dir)))
    return media.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("width").alias("avg_width"),
        F.avg("height").alias("avg_height"),
        F.sum("n_frames").alias("total_frames"),
    )


@query("video_frame_stats", oracle=_MEDIA_RAW_CTE + """,
v AS (
  SELECT doc_id, raw, n,
         16 + n % 32 AS w,
         16 + (n // 5) % 32 AS h,
         2 + n % 7 AS nf
  FROM media_raw WHERE doc_id % 3 = 2),
v2 AS (
  SELECT doc_id, raw, n, w, h, nf, w * h * 3 AS fsize,
         (w * h * 3) // n AS q, (w * h * 3) % n AS r
  FROM v),
a AS (
  SELECT doc_id,
         sum(ascii(substr(raw, CAST(i AS INTEGER), 1))) AS tot,
         sum(CASE WHEN i <= r
                  THEN ascii(substr(raw, CAST(i AS INTEGER), 1))
                  ELSE 0 END) AS pre
  FROM (SELECT doc_id, raw, r, unnest(generate_series(1, n)) AS i
        FROM v2)
  GROUP BY doc_id)
SELECT v2.doc_id AS media_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(fsize AS BIGINT) AS first_frame_bytes,
       CAST(q * tot + pre AS BIGINT) AS first_frame_sum
FROM v2 JOIN a ON v2.doc_id = a.doc_id
""")
def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode end-to-end: per video row, the Y4M stream's
    parsed geometry, frame count, and the integer-exact byte sum of
    the FIRST frame's C444 plane block — evidence that actual frame
    BYTES came out of the container, not just header fields. The
    oracle reconstructs the same sum arithmetically from the
    synthesis layout (frame 0 = the md5-derived raw repeated to w·h·3
    bytes, so its byte sum = ⌊fsize/n⌋·Σascii(raw) + Σascii(prefix)) — a
    parser that misplaces a single frame boundary fails the hash.
    Narrow Arrow decode stage; at scale this is the per-partition
    frame-extraction pass a video-curation pipeline runs before
    sampling stills into an image model."""
    from map_reduce_mongodb_spark.operators.multimodal import (
        media_from_documents, video_frame_stats)
    return video_frame_stats(
        media_from_documents(table(spark, "documents", sf_dir)))


# =====================================================================
# MapReduce-compat façade (SURVEY §2.6 engine-API parity)
# =====================================================================

@query("mapreduce_wordcount", oracle=r"""
WITH words AS (
  SELECT unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS w
  FROM documents
  -- empty/whitespace-only docs: Python ''.split() yields NO tokens,
  -- but string_split_regex('', ...) yields [''] — filter them here
  -- so both sides agree (r9 review; latent until such a doc lands)
  WHERE length(trim(text)) > 0)
SELECT w AS _id,
       '{"count": ' || count(*) || '}' AS value
FROM words
GROUP BY w
""")
def q_mapreduce_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapReduce façade running wordcount via the COUNTER fast
    path: Python map emits (API parity with the reference's per-doc
    emit contract), JVM-side field-sum reduce — no per-key Python.
    Output keys/values in the reference's ``{_id, value}`` envelope
    (SURVEY §2.6); the oracle reconstructs the JSON value string
    exactly. The generic applyInPandas reduce (the compat slow path
    for non-counter reduces) is pinned separately in
    tests/test_mapreduce.py, including its equivalence to this path."""
    from map_reduce_mongodb_spark.operators.mapreduce import (
        map_reduce_counters)

    def map_fn(doc):
        for w in doc["text"].split():
            yield w, {"count": 1}

    return map_reduce_counters(table(spark, "documents", sf_dir), map_fn,
                               counter_fields=["count"])


# =====================================================================
# Temporal joins (as-of / range — ABSENT in reference, SURVEY §2.9)
# =====================================================================

@query("asof_join_purchases", oracle="""
SELECT p.event_id, p.user_id, p.ts,
       c.event_id AS click_event_id,
       c.ts AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""")
def q_asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the user's most recent prior (or
    simultaneous) click. Union-sort formulation — no pair explosion
    (operators/temporal.py); DuckDB's native ASOF JOIN is the oracle."""
    from map_reduce_mongodb_spark.operators.temporal import asof_join
    ev = table(spark, "events", sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    out = asof_join(purchases, clicks, by="user_id", ts="ts",
                    payload_cols=["event_id", "ts"])
    return out.select(
        "event_id", "user_id", "ts",
        F.col("asof_event_id").alias("click_event_id"),
        F.col("asof_ts").alias("click_ts"),
    )


@query("range_join_error_context", oracle="""
SELECT e.event_id, e.user_id,
       count(c.event_id) FILTER (
         WHERE c.ts < e.ts AND c.ts >= e.ts - INTERVAL '600 seconds'
       ) AS n_in_range,
       round(sum(c.value) FILTER (
         WHERE c.ts < e.ts AND c.ts >= e.ts - INTERVAL '600 seconds'
       ), 2) AS sum_in_range
FROM (SELECT * FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id
GROUP BY e.event_id, e.user_id
""")
def q_range_join_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: per error event, clicks by the same user in
    the preceding 10 minutes (bucketed 2-probe join — the scalable
    form; the oracle states it as a plain inequality join)."""
    from map_reduce_mongodb_spark.operators.temporal import range_count
    ev = table(spark, "events", sf_dir)
    errors = ev.filter(F.col("event_type") == "error") \
        .select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click")
    out = range_count(errors, clicks, by="user_id", ts="ts",
                      delta_seconds=600, agg_col="value")
    return out.select("event_id", "user_id", "n_in_range", "sum_in_range")


# =====================================================================
# Statistical aggregates (ABSENT in reference, SURVEY §2.9)
# =====================================================================

@query("stats_aggregates", oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
       round(stddev_samp(l_extendedprice), 2) AS sd_price,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qty_price
FROM lineitem
GROUP BY l_returnflag
""")
def q_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles + second-moment aggregates;
    rounded because accumulation order differs. The percentiles go
    through operators/quantiles.py:grouped_quantile_cont — bit-equal
    to the percentile() aggregate (pinned by tests/test_quantiles.py)
    but histogram+sliver-selected, so no group's full price list ever
    sits in one task's aggregation buffer (the hotspot percentile()
    would OOM on first at 100 TB with only 3 return-flag groups);
    both quantiles share one histogram and one probe. The moments stay
    a plain one-pass map-side-combinable aggregate; the stitch join is
    3 rows a side."""
    from map_reduce_mongodb_spark.operators.quantiles import (
        grouped_quantile_cont)
    li = table(spark, "lineitem", sf_dir)
    qc = grouped_quantile_cont(li, ["l_returnflag"], "l_extendedprice",
                               [0.5, 0.9], out_cols=["_med", "_p90"])
    mom = li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6)
        .alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2)
        .alias("cov_qty_price"),
    )
    return (mom.join(qc, "l_returnflag")
            .select("l_returnflag",
                    F.round("_med", 4).alias("median_price"),
                    F.round("_p90", 4).alias("p90_price"),
                    "sd_price", "corr_qty_price", "cov_qty_price"))


# =====================================================================
# SQL surface + grouping sets (the "no SQL layer" gap, SURVEY §2.9)
# =====================================================================

@query("sql_surface_cte_exists", oracle="""
WITH big_orders AS (
  SELECT o_custkey, o_totalprice, o_orderdate
  FROM orders WHERE o_totalprice > 200000
)
SELECT c.c_custkey, c.c_mktsegment,
       count(*) AS n_big,
       round(max(b.o_totalprice), 2) AS biggest
FROM customer c JOIN big_orders b ON b.o_custkey = c.c_custkey
WHERE EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey
                AND n.n_regionkey <> 0)
GROUP BY c.c_custkey, c.c_mktsegment
""")
def q_sql_surface_cte_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-parser surface (ABSENT in the reference — MongoDB
    mapReduce has no query language): register the catalog as temp
    views and run ANSI SQL with a CTE + correlated EXISTS through
    spark.sql. Catalyst decorrelates the subquery into a semi join."""
    from map_reduce_mongodb_spark.io import load_tables
    load_tables(spark, sf_dir, register_views=True)
    return spark.sql("""
        WITH big_orders AS (
          SELECT o_custkey, o_totalprice, o_orderdate
          FROM orders WHERE o_totalprice > 200000
        )
        SELECT c.c_custkey, c.c_mktsegment,
               count(*) AS n_big,
               round(max(b.o_totalprice), 2) AS biggest
        FROM customer c JOIN big_orders b ON b.o_custkey = c.c_custkey
        WHERE EXISTS (SELECT 1 FROM nation n
                      WHERE n.n_nationkey = c.c_nationkey
                        AND n.n_regionkey <> 0)
        GROUP BY c.c_custkey, c.c_mktsegment
    """)


@query("cube_agg", oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full grouping-sets lattice via CUBE (rollup's sibling)."""
    li = table(spark, "lineitem", sf_dir)
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )


# =====================================================================
# Relational depth — TPC-H-shaped composites
# =====================================================================

@query("q3_shipping_priority", oracle=f"""
SELECT l_orderkey,
       CAST(round(sum({_REV_DEC_SQL}), 2) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""")
def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → join chain (un-hinted;
    the filtered sides broadcast via threshold at graded SFs) → agg →
    top-k with full deterministic tie-break."""
    c = table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING")
    o = table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_rev_dec()), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query("q16_supplier_variety", oracle="""
SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size IN (5, 15, 25, 45)
GROUP BY p_brand, p_type
""")
def q_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-count aggregation after a dim join
    (un-hinted — part scales with SF; count-distinct expands to a
    two-phase aggregate)."""
    part = table(spark, "part", sf_dir).filter(
        F.col("p_size").isin(5, 15, 25, 45))
    li = table(spark, "lineitem", sf_dir)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query("q17_small_quantity", oracle="""
SELECT round(sum(l_extendedprice), 2) AS total_small_qty_price,
       count(*) AS n
FROM lineitem l
JOIN (SELECT l_partkey AS pk, 0.5 * avg(l_quantity) AS half_avg
      FROM lineitem GROUP BY l_partkey) a
  ON l.l_partkey = a.pk
WHERE l.l_quantity < a.half_avg
""")
def q_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average)
    decorrelated into an aggregate + self-join."""
    li = table(spark, "lineitem", sf_dir)
    avg_qty = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg"))
    return (
        li.join(avg_qty, li.l_partkey == avg_qty.pk)
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice"), 2)
             .alias("total_small_qty_price"),
             F.count(F.lit(1)).alias("n"))
    )


@query("q18_large_orders", oracle="""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total,
       round(qty, 2) AS qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150) big
  ON o_orderkey = big.l_orderkey
""")
def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a grouped sum, joined back to the
    fact header."""
    li = table(spark, "lineitem", sf_dir)
    big = (
        li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 150)
    )
    orders = table(spark, "orders", sf_dir)
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .select("o_orderkey", "o_custkey",
                F.round("o_totalprice", 2).alias("total"),
                F.round("qty", 2).alias("qty"))
    )


@query("q4_order_priority", oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
""")
def q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS over the fact table → left-semi join with
    a non-equi predicate (testdata has no l_commitdate/l_receiptdate,
    so "late" = shipped >90 days after order date). The semi join keeps
    the probe side un-duplicated — no distinct needed after it."""
    o = table(spark, "orders", sf_dir).where(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01"))
    li = table(spark, "lineitem", sf_dir)
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
    return (o.join(li, late, "left_semi")
             .groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("order_count")))


@query("q13_customer_distribution", oracle="""
SELECT c_count, count(*) AS custdist
FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey) t
GROUP BY c_count
""")
def q_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join with a filter INSIDE the join
    condition (not a post-filter — that would turn the outer join
    inner), then a two-level aggregation giving the orders-per-customer
    histogram."""
    c = table(spark, "customer", sf_dir)
    o = table(spark, "orders", sf_dir)
    cond = (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT")
    per_cust = (c.join(o, cond, "left")
                 .groupBy("c_custkey")
                 .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
                    .agg(F.count(F.lit(1)).alias("custdist")))


@query("q20_part_suppliers", oracle="""
SELECT s.s_suppkey, s.s_name, n.n_name
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part
                      WHERE p_name LIKE 'small%')
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey
  HAVING sum(l_quantity) > 100)
""")
def q_q20_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: doubly-nested IN subqueries (suppliers who
    moved >100 units of 'small%' parts in 1997), decorrelated to
    semi joins; the part-key filter side is un-hinted (part scales
    with SF — threshold-broadcast at graded SFs, shuffled semi at
    100 TB), nation pins broadcast (testdata has no partsupp, so
    lineitem stands in as the supply fact)."""
    li = table(spark, "lineitem", sf_dir)
    small_parts = (table(spark, "part", sf_dir)
                   .where(F.col("p_name").like("small%"))
                   .select("p_partkey"))
    heavy = (li.where((F.col("l_shipdate") >= "1997-01-01")
                      & (F.col("l_shipdate") < "1998-01-01"))
               .join(small_parts,
                     li.l_partkey == F.col("p_partkey"), "left_semi")
               .groupBy("l_suppkey")
               .agg(F.sum("l_quantity").alias("qty"))
               .where(F.col("qty") > 100)
               .select("l_suppkey"))
    s = table(spark, "supplier", sf_dir)
    n = table(spark, "nation", sf_dir)
    return (s.join(heavy, s.s_suppkey == F.col("l_suppkey"), "left_semi")
             .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
             .select("s_suppkey", "s_name", "n_name"))


@query("q5_local_supplier_volume", oracle=f"""
SELECT n_name,
       CAST(round(sum({_REV_DEC_SQL}), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""")
def q_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the 6-way star join with the local-supplier
    constraint (customer and supplier share a nation). Plan: lineitem
    (the only big table) streams through a chain of joins the planner
    builds as broadcasts at graded SFs (nation/region pinned; the
    SF-scaling orders/supplier/customer sides un-hinted) — orders is
    date-filtered before joining, region/nation prune to one region's
    nations — so the fact table is scanned once and never shuffled
    until the (tiny) per-nation aggregate."""
    li = table(spark, "lineitem", sf_dir)
    o = table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    c = table(spark, "customer", sf_dir)
    s = table(spark, "supplier", sf_dir)
    n = table(spark, "nation", sf_dir)
    r = table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(_rev_dec()), 2).cast("double")
              .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
        .select("n_name", "revenue")
    )


@query("q10_returned_items", oracle=f"""
SELECT c_custkey, c_name,
       CAST(round(sum({_REV_DEC_SQL}), 2) AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""")
def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — top customers by returned-revenue in a
    quarter. The returnflag filter pushes to the lineitem scan; orders
    is quarter-filtered pre-join; nation pins broadcast while the
    SF-scaling orders/customer joins stay un-hinted (threshold/AQE);
    the global top-20 carries c_custkey as the deterministic
    tie-break."""
    li = table(spark, "lineitem", sf_dir).filter(
        F.col("l_returnflag") == "R")
    o = table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    c = table(spark, "customer", sf_dir)
    n = table(spark, "nation", sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(_rev_dec()), 2).cast("double")
              .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@query("error_handling", oracle="""
SELECT event_type,
       count(*) AS n,
       count(try_cast(event_type AS BIGINT)) AS n_type_as_int,
       count(try_cast(json_extract_string(props, '$.k') AS BIGINT))
         AS n_k_parsed,
       count(value / nullif(0.0, 0.0)) AS n_div_zero,
       count(try_cast(event_type AS TIMESTAMP)) AS n_type_as_ts
FROM events
GROUP BY event_type
""")
def q_error_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-data semantics under ANSI mode: the ``try_*`` family maps
    unparseable casts, division by zero, and bad timestamps to NULL
    instead of failing the job — the posture a 100 TB ingest needs
    (one malformed row must not kill a 6-hour run). Counted per event
    type; DuckDB's non-ANSI operators have the same NULL results, so
    it oracle-checks."""
    ev = table(spark, "events", sf_dir)
    return (ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.try_to_number("event_type", F.lit("999999")))
         .alias("n_type_as_int"),
        F.count(F.get_json_object("props", "$.k").try_cast("bigint"))
         .alias("n_k_parsed"),
        F.count(F.try_divide(F.col("value"), F.lit(0.0)))
         .alias("n_div_zero"),
        F.count(F.try_to_timestamp("event_type")).alias("n_type_as_ts")))


@query("data_profile", oracle="""
SELECT 'l_quantity' AS col,
       count(*) AS n,
       count(l_quantity) AS n_nonnull,
       count(DISTINCT l_quantity) AS n_distinct,
       round(min(l_quantity), 4) AS min_v,
       round(max(l_quantity), 4) AS max_v,
       round(avg(l_quantity), 4) AS mean_v
FROM lineitem
UNION ALL
SELECT 'l_discount',
       count(*), count(l_discount), count(DISTINCT l_discount),
       round(min(l_discount), 4), round(max(l_discount), 4),
       round(avg(l_discount), 4)
FROM lineitem
UNION ALL
SELECT 'l_extendedprice',
       count(*), count(l_extendedprice), count(DISTINCT l_extendedprice),
       round(min(l_extendedprice), 4), round(max(l_extendedprice), 4),
       round(avg(l_extendedprice), 4)
FROM lineitem
""")
def q_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the pre-ingest data-quality sweep): per-column
    row/non-null/distinct counts and min/max/mean, computed for all
    profiled columns in ONE scan — each metric set is a column-tuple of
    the same aggregate, then unpivoted driver-free with an explode of
    per-column structs (vs the naive one-scan-per-column UNION the
    oracle spells out)."""
    li = table(spark, "lineitem", sf_dir)
    cols = ["l_quantity", "l_discount", "l_extendedprice"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.round(F.min(c), 4).alias(f"{c}__min"),
            F.round(F.max(c), 4).alias(f"{c}__max"),
            F.round(F.avg(c), 4).alias(f"{c}__mean"),
        ]
    one = li.agg(*aggs)
    structs = F.array(*[
        F.struct(F.lit(c).alias("col"),
                 F.col(f"{c}__n").alias("n"),
                 F.col(f"{c}__nn").alias("n_nonnull"),
                 F.col(f"{c}__nd").alias("n_distinct"),
                 F.col(f"{c}__min").alias("min_v"),
                 F.col(f"{c}__max").alias("max_v"),
                 F.col(f"{c}__mean").alias("mean_v"))
        for c in cols])
    return (one.select(F.explode(structs).alias("p"))
               .select("p.col", "p.n", "p.n_nonnull", "p.n_distinct",
                       "p.min_v", "p.max_v", "p.mean_v"))


@query("value_histogram", oracle="""
SELECT CASE WHEN value < 0.0 THEN 0
            WHEN value >= 500.0 THEN 21
            ELSE CAST(floor(value / 25.0) + 1 AS BIGINT) END AS bucket,
       count(*) AS n,
       round(min(value), 4) AS lo,
       round(max(value), 4) AS hi
FROM events
WHERE value IS NOT NULL
GROUP BY 1
""")
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of a numeric column via width_bucket — the
    distribution-sketch pass for range-partition planning and outlier
    gates; one partial-aggregated groupBy on the bucket id."""
    ev = table(spark, "events", sf_dir)
    return (ev.where(F.col("value").isNotNull())
              .groupBy(F.width_bucket("value", F.lit(0.0), F.lit(500.0),
                                      F.lit(20)).alias("bucket"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.min("value"), 4).alias("lo"),
                   F.round(F.max("value"), 4).alias("hi")))


@query("salted_agg_skew", oracle="""
SELECT event_type, count(*) AS n, round(sum(value), 2) AS total,
       round(avg(value), 4) AS mean
FROM events
GROUP BY event_type
""")
def q_salted_agg_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation over a low-cardinality (5-value →
    5-task) group key: phase 1 aggregates (key, salt) partials across
    salts*|keys| tasks, phase 2 merges partials per key. Result is
    identical to the plain groupBy (the oracle); the shape is the
    standard cure for hot-key skew when AQE's skew handling isn't
    enough (e.g. streaming state, or a single pathological key)."""
    from map_reduce_mongodb_spark.operators.skew import salted_aggregate
    ev = table(spark, "events", sf_dir)
    return salted_aggregate(
        ev, key="event_type", salts=8,
        partial_aggs=lambda: [
            F.count(F.lit(1)).alias("_n"),
            F.sum("value").alias("_sum"),
        ],
        final_aggs=lambda: [
            F.sum("_n").alias("n"),
            F.round(F.sum("_sum"), 2).alias("total"),
            F.round(F.sum("_sum") / F.sum("_n"), 4).alias("mean"),
        ],
    )


@query("stateful_user_profiles", oracle="""
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM events
GROUP BY user_id
""")
def q_stateful_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState custom stateful operator, EXECUTED AS
    A STREAM (AvailableNow over the events parquet → memory sink) and
    compared against the plain batch aggregation oracle — the driver
    check itself exercises Structured Streaming state management."""
    from map_reduce_mongodb_spark.streaming.stateful import (
        user_profiles_stateful)
    from map_reduce_mongodb_spark.streaming.windows import (
        run_to_memory_sink)
    # One state store per shuffle partition: a bare session's default of
    # 200 partitions means 200 stores for ~150 keys. Pin a sane number
    # on a CLONED session (own SQLConf, shared SparkContext) instead of
    # mutating the caller's conf — set-and-restore on the shared session
    # races if the driver ever interleaves queries.
    sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", "8")
    stream = (sess.readStream
              .schema("event_id long, ts timestamp_ntz, user_id long,"
                      " event_type string, value double, props string")
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    run_to_memory_sink(user_profiles_stateful(stream),
                       "stateful_user_profiles_sink",
                       output_mode="update")
    return sess.table("stateful_user_profiles_sink")


@query("streaming_dedup", oracle="""
SELECT count(*) AS n_rows,
       count(DISTINCT event_id) AS n_ids,
       round(sum(value), 2) AS total_value
FROM events
""")
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingestion dedup EXECUTED AS A STREAM: the events
    source is read twice and unioned (simulating at-least-once
    redelivery), streamed through keyed dropDuplicates state, and the
    sink must equal the single-copy batch oracle. State is O(|keys|)
    here (AvailableNow backfill); the operator's watermarked variant
    (streaming/windows.py:exactly_once_dedup) bounds it for unbounded
    streams."""
    from map_reduce_mongodb_spark.streaming.windows import (
        exactly_once_dedup, run_to_memory_sink)
    sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", "8")

    def read_once() -> DataFrame:
        return (sess.readStream
                .schema("event_id long, ts timestamp_ntz, user_id long,"
                        " event_type string, value double, props string")
                .option("pathGlobFilter", "events.parquet")
                .parquet(sf_dir))

    doubled = read_once().unionAll(read_once())
    run_to_memory_sink(exactly_once_dedup(doubled, keys=("event_id",)),
                       "streaming_dedup_sink", output_mode="append")
    return (sess.table("streaming_dedup_sink")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.countDistinct("event_id").alias("n_ids"),
                     F.round(F.sum("value"), 2).alias("total_value")))


@query("stream_stream_join", oracle="""
SELECT count(*) AS n_pairs,
       count(DISTINCT c.user_id) AS n_users,
       round(sum(p.value), 2) AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
""")
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join EXECUTED AS A STREAM: click events
    joined to purchase events of the same user within the following 30
    minutes (the attribution-window shape). Both sides carry
    watermarks, so at steady state each side's buffered rows are
    evicted once older than watermark + interval — bounded state; the
    time-bound in the join condition is what makes that eviction
    possible (an unbounded equality stream-stream join would buffer
    forever). Result equals the batch interval join (the oracle).

    SKEW-SAFE PROBES (r11, found by the sf≈1 probe): the symmetric
    hash join keys its state on the EQUALITY columns only, so a hot
    user degenerates every probe into an iteration over that user's
    entire buffered history — the probe corpus's 20%-skew user
    (~40k clicks × ~40k purchases) turned one micro-batch into ~10⁹
    state-row visits (1460 s for 1M events; correct, but quadratic in
    the hot key). The fix joins on (user, 30-min time bucket): each
    click emits its bucket AND the next (a qualifying purchase lies
    in exactly one of the two, so no pair dedup is needed), each
    purchase carries its own bucket, and the raw interval condition
    stays in the join for exactness AND watermark state eviction.
    Probes now touch only two buckets of the hot key's state —
    per-(key, window) quadratic, bounded by the key's event rate per
    window rather than its lifetime history. Same answer, same
    oracle; 912 s → seconds at the probe scale."""
    from map_reduce_mongodb_spark.streaming.windows import (
        run_to_memory_sink)
    sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", "8")

    def read_side(alias: str) -> DataFrame:
        # ts declared LTZ (not the batch scan's NTZ): watermarks
        # reject NTZ event time, and the join runs in instant space —
        # timezone-stable because no timestamp reaches the output
        # (counts/sums only).
        raw = (sess.readStream
               .schema("event_id long, ts timestamp, user_id long,"
                       " event_type string, value double, props string")
               .option("pathGlobFilter", "events.parquet")
               .parquet(sf_dir))
        return raw.withWatermark("ts", "1 hour").alias(alias)

    bkt = lambda c: (F.unix_timestamp(c) / F.lit(1800)).cast("long")  # noqa: E731
    clicks = (read_side("c")
              .where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("ts").alias("c_ts"))
              .withColumn("c_bkt", F.explode(F.array(
                  bkt(F.col("c_ts")), bkt(F.col("c_ts")) + 1))))
    purchases = (read_side("p")
                 .where(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("ts").alias("p_ts"),
                         F.col("value").alias("p_value"),
                         bkt(F.col("ts")).alias("p_bkt")))
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_bkt") == F.col("p_bkt"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")))
    run_to_memory_sink(joined, "stream_stream_join_sink",
                       output_mode="append")
    return (sess.table("stream_stream_join_sink")
                .agg(F.count(F.lit(1)).alias("n_pairs"),
                     F.countDistinct("c_user").alias("n_users"),
                     F.round(F.sum("p_value"), 2).alias("purchase_value")))


@query("corpus_curation", oracle=r"""
WITH kept AS (
  SELECT doc_id, lang, source,
         md5(regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS fp,
         len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS n_words
  FROM documents
  WHERE length(text) > 100
    AND len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) BETWEEN 20 AND 1000),
canon AS (SELECT fp, min(doc_id) AS keep_id FROM kept GROUP BY fp)
SELECT k.lang, k.source,
       count(*) AS n_docs,
       round(avg(CAST(k.n_words AS DOUBLE)), 4) AS avg_words
FROM kept k JOIN canon c ON k.doc_id = c.keep_id
GROUP BY 1, 2
""")
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition — the LLM-corpus pipeline in one
    plan: length/word-count quality gate → normalized-fingerprint exact
    dedup (keep min doc_id) → per-(lang, source) survivor accounting.
    One scan feeds both the gate and the dedup (no re-read); the
    canonical-survivor join is an aggregate self-join Catalyst executes
    with one shuffle on fp."""
    from map_reduce_mongodb_spark.functions import text as T
    docs = table(spark, "documents", sf_dir)
    n_words = T.word_count(F.col("text"))
    kept = (docs.where((F.length("text") > 100)
                       & n_words.between(20, 1000))
                .select("doc_id", "lang", "source",
                        T.fingerprint(F.col("text")).alias("fp"),
                        n_words.alias("n_words")))
    canon = kept.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    return (kept.join(canon, kept.doc_id == canon.keep_id)
                .groupBy("lang", "source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.round(F.avg(F.col("n_words").cast("double")), 4)
                      .alias("avg_words")))


@query("train_val_split", oracle=r"""
WITH h AS (
  SELECT lang,
         n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 100 AS bucket
  FROM documents)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM h
GROUP BY 1, 2
""")
def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by hashing the
    document id (salt-free md5 bucket) — the reproducible-split
    primitive every corpus pipeline needs. Hash-based (not
    ``sample()``): the same doc lands in the same split on every
    engine, every run, any partitioning; splits stay disjoint under
    incremental re-runs. Per-(split, lang) accounting as output."""
    docs = table(spark, "documents", sf_dir)
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                 1, 8), 16, 10)
               .cast("long") % 100)
    split = (F.when(bucket < 80, "train")
              .when(bucket < 90, "val")
              .otherwise("test"))
    return (docs.select(split.alias("split"), "lang", "n_chars")
                .groupBy("split", "lang")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_chars").alias("total_chars")))


@query("seq_packing", oracle=r"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\w+|[^\w \t\n\x0B\f\r]')) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens
           AS start_off
  FROM t)
SELECT CAST(floor(start_off / 2048.0) AS BIGINT) AS bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS first_doc
FROM c
GROUP BY 1
""")
def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing accounting: lay documents end-to-end in doc_id
    order and bin them into 2048-token context windows by starting
    offset (running token sum) — the bookkeeping pass behind packed
    pre-training batches. The global running sum is NOT a
    single-partition window: it's the two-pass range-partitioned scan
    from :func:`operators.prefix.distributed_cumsum` (within-partition
    windows + an O(#partitions) offset table, broadcast back), so the
    corpus-wide ordering parallelizes across executors — the plan
    VERDICT r4 #4 asked for. doc_id is unique, so the order is total
    and the scan deterministic."""
    from map_reduce_mongodb_spark.functions import text as T
    from map_reduce_mongodb_spark.operators.prefix import (
        distributed_cumsum)
    docs = table(spark, "documents", sf_dir)
    t = docs.select("doc_id",
                    T.bpe_token_count(F.col("text")).alias("n_tokens"))
    c = (distributed_cumsum(t, [F.col("doc_id")], F.col("n_tokens"),
                            "cum_tokens")
         .withColumn("start_off",
                     F.col("cum_tokens") - F.col("n_tokens")))
    return (c.groupBy(F.floor(F.col("start_off") / F.lit(2048.0))
                       .cast("bigint").alias("bin_id"))
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_tokens").alias("total_tokens"),
                  F.min("doc_id").alias("first_doc")))


@query("seq_packing_ffd", oracle=r"""
WITH RECURSIVE t AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 8 AS shard,
         CAST(len(regexp_extract_all(text, '\w+|[^\w \t\n\x0B\f\r]')) AS BIGINT)
           AS n_tokens
  FROM documents),
r AS (
  SELECT shard, doc_id, n_tokens,
         row_number() OVER (PARTITION BY shard
                            ORDER BY n_tokens DESC, doc_id) AS rn
  FROM t),
steps AS (
  SELECT shard, CAST(0 AS BIGINT) AS rn, CAST([] AS BIGINT[]) AS loads,
         CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS bin_id,
         CAST(NULL AS BIGINT) AS n_tokens
  FROM (SELECT DISTINCT shard FROM r)
  UNION ALL
  SELECT d.shard, d.rn,
         CASE WHEN list_filter(generate_series(1, len(s.loads)),
                     i -> s.loads[i] + d.n_tokens <= 256)[1] IS NULL
              THEN list_append(s.loads, d.n_tokens)
              ELSE list_transform(generate_series(1, len(s.loads)),
                     i -> CASE WHEN i = list_filter(
                                   generate_series(1, len(s.loads)),
                                   j -> s.loads[j] + d.n_tokens <= 256)[1]
                               THEN s.loads[i] + d.n_tokens
                               ELSE s.loads[i] END)
         END AS loads,
         d.doc_id,
         CAST(CASE WHEN list_filter(generate_series(1, len(s.loads)),
                         i -> s.loads[i] + d.n_tokens <= 256)[1] IS NULL
                   THEN len(s.loads)
                   ELSE list_filter(generate_series(1, len(s.loads)),
                         i -> s.loads[i] + d.n_tokens <= 256)[1] - 1
              END AS BIGINT) AS bin_id,
         d.n_tokens
  FROM steps s JOIN r d ON d.shard = s.shard AND d.rn = s.rn + 1
)
SELECT doc_id, shard, bin_id, n_tokens FROM steps WHERE rn > 0
""")
def q_seq_packing_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing bin packing per md5 shard (capacity 256
    tokens) — the no-straddle variant of seq_packing: every doc lands
    wholly inside one context window, FFD bounds waste at 11/9·OPT+1.
    Spark side is one shuffle (groupBy shard) + an applyInPandas whose
    state is just the open-bin load list; the oracle replays the same
    deterministic (tokens DESC, id ASC) first-fit state machine as a
    recursive CTE carrying the load list as a LIST column."""
    from map_reduce_mongodb_spark.functions import text as T
    from map_reduce_mongodb_spark.operators.packing import pack_ffd
    docs = table(spark, "documents", sf_dir)
    t = docs.select("doc_id",
                    T.bpe_token_count(F.col("text")).alias("n_tokens"))
    return pack_ffd(t, capacity=256, n_shards=8)


@query("decontaminate_train", oracle=r"""
WITH b AS (
  SELECT doc_id, text,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 100 AS bucket
  FROM documents),
sh AS (
  SELECT doc_id, bucket,
         unnest(list_distinct(list_transform(
             generate_series(1, len(w) - 2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
  FROM (SELECT doc_id, bucket,
               string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w
        FROM b)
  WHERE len(w) >= 3),
evs AS (SELECT DISTINCT s FROM sh WHERE bucket >= 80)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM sh JOIN evs USING (s)
WHERE bucket < 80
GROUP BY doc_id
HAVING count(*) >= 5
""")
def q_decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag TRAIN-split documents sharing
    ≥5 distinct 3-gram shingles with ANY eval-split (val/test)
    document — the overlap filter run before pre-training to keep eval
    sets out of the corpus. Same inverted-index shape as exact Jaccard:
    explode distinct shingles on both sides, equality-join on the
    shingle (eval side deduped first — it's the small side and prunes
    the join), count per train doc. No pairwise anything."""
    from map_reduce_mongodb_spark.functions import text as T
    docs = table(spark, "documents", sf_dir)
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                 1, 8), 16, 10)
               .cast("long") % 100)
    sh = (docs.select("doc_id", bucket.alias("bucket"),
                      F.explode(T.word_shingles(F.col("text"), 3))
                       .alias("s")))
    evs = (sh.where(F.col("bucket") >= 80)
             .select("s").distinct())
    return (sh.where(F.col("bucket") < 80)
              .join(evs, "s")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_shared"))
              .where(F.col("n_shared") >= 5))


@query("embedding_centroids", oracle="""
WITH e AS (
  SELECT label,
         generate_subscripts(embedding, 1) AS pos,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
  FROM embeddings)
SELECT label, pos,
       count(*) AS n,
       round(avg(x), 6) AS centroid_val
FROM e
GROUP BY 1, 2
""")
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors (the k-means/IVF seeding and
    class-prototype primitive) computed as posexplode → (label, pos)
    aggregation: one shuffle keyed by (label, dim-position), partial
    averages map-side — the scale-correct distributed vector mean (no
    per-group array folding, no collect)."""
    emb = table(spark, "embeddings", sf_dir)
    e = emb.select(
        "label",
        F.posexplode(F.transform(F.col("embedding"),
                                 lambda x: x.cast("double")))
         .alias("pos0", "x"))
    return (e.groupBy("label", (F.col("pos0") + 1).alias("pos"))
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.avg("x"), 6).alias("centroid_val")))


@query("mixture_sampling", oracle=r"""
WITH h AS (
  SELECT source, lang, n_chars,
         CAST(('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 100 AS bucket,
         CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 100 ELSE 80 END
           AS keep_pct
  FROM documents)
SELECT lang,
       count(*) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM h
WHERE bucket < keep_pct
GROUP BY lang
""")
def q_mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling: per-language keep rates (en 50%,
    zh 100%, rest 80% — downsample the over-represented language,
    keep low-resource ones whole), decided by a salted md5 bucket of
    the doc id. Hash-based like train_val_split — same doc kept on
    every run/engine/partitioning, and the 'mix' salt makes the draw
    independent of the split assignment hash. Output: per-language
    kept-document accounting."""
    docs = table(spark, "documents", sf_dir)
    bucket = (F.conv(F.substring(
                  F.md5(F.concat(F.lit("mix"),
                                 F.col("doc_id").cast("string"))), 1, 8),
                  16, 10).cast("long") % 100)
    keep_pct = (F.when(F.col("lang") == "en", 50)
                 .when(F.col("lang") == "zh", 100)
                 .otherwise(80))
    return (docs.where(bucket < keep_pct)
                .groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n_kept"),
                     F.sum("n_chars").alias("kept_chars")))


@query("weighted_sample", oracle="""
WITH c AS (
  SELECT doc_id, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
           AS cum,
         sum(n_chars) OVER () AS tot
  FROM documents),
s AS (SELECT doc_id, n_chars, cum, tot // 200 AS w FROM c)
SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
       CAST(cum // w - (cum - n_chars) // w AS BIGINT) AS n_hits
FROM s
WHERE cum // w > (cum - n_chars) // w
""")
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance (weight-proportional) sampling via SYSTEMATIC PPS:
    lay documents end-to-end on the cumulative-weight axis (weight =
    n_chars), drop a grid of ~200 equally-spaced points (stride W =
    total weight div 200), and keep every document whose weight
    interval contains a grid point — each doc's selection probability
    is proportional to its weight, the textbook probability-
    proportional-to-size design, and the draw is fully deterministic
    (integer arithmetic only, no RNG, no cross-engine libm). n_hits
    counts grid points landing in the interval (heavy docs spanning
    multiple strides surface with multiplicity, as importance
    sampling requires). The cumulative axis comes from
    operators/prefix.py:distributed_cumsum — range-partitioned
    two-pass scan, no single-partition window — and the total-weight
    stride is a broadcast 1-row scalar, so the whole plan is
    shuffle-bounded by one range exchange at any corpus size."""
    from map_reduce_mongodb_spark.operators.prefix import (
        distributed_cumsum)
    docs = table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    cum = distributed_cumsum(docs, [F.col("doc_id")],
                             F.col("n_chars").cast("long"), "cum")
    tot = docs.agg(F.sum("n_chars").cast("long").alias("_tot"))
    s = (cum.crossJoin(F.broadcast(tot))
            .withColumn("_w", F.expr("_tot div 200")))
    hits = F.expr("cum div _w - (cum - n_chars) div _w")
    return (s.where(F.expr("cum div _w > (cum - n_chars) div _w"))
             .select("doc_id",
                     F.col("n_chars").cast("long").alias("weight"),
                     hits.cast("long").alias("n_hits")))


@query("orders_running_quantile", oracle="""
WITH n AS (SELECT count(*) AS n FROM orders),
r AS (SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey)
               AS rnk
      FROM orders),
q AS (SELECT unnest(generate_series(1, 9)) AS decile)
SELECT CAST(decile AS BIGINT) AS decile, o_totalprice AS value
FROM r, n, q
WHERE rnk = (decile * n + 9) // 10
""")
def q_orders_running_quantile(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """EXACT order-statistic deciles of order value at any scale —
    the selection-by-global-rank pattern: every row's global rank
    comes from operators/prefix.py:distributed_cumsum of 1s over the
    (o_totalprice, o_orderkey) total order (range-partitioned
    two-pass scan — no sort through one task, unlike a naive
    row_number() OVER (ORDER BY ...)), and the nine decile targets
    ceil(q·n/10) join back as a 9-row broadcast. Exact integer rank
    arithmetic; the quantile VALUE at a rank is tiebreak-independent,
    so both engines agree bit-for-bit. This is the exact complement
    to the mergeable-sketch approximate quantiles in
    approx_sketches."""
    from map_reduce_mongodb_spark.operators.prefix import (
        distributed_cumsum)
    o = table(spark, "orders", sf_dir).select("o_orderkey",
                                              "o_totalprice")
    ranked = distributed_cumsum(
        o, [F.col("o_totalprice"), F.col("o_orderkey")],
        F.lit(1).cast("long"), "rnk")
    n = o.agg(F.count(F.lit(1)).alias("_n"))
    targets = (spark.range(1, 10).select(F.col("id").alias("decile"))
               .crossJoin(F.broadcast(n))
               .select("decile",
                       F.expr("(decile * _n + 9) div 10")
                        .alias("_target")))
    return (ranked.join(F.broadcast(targets),
                        ranked["rnk"] == targets["_target"])
            .select(F.col("decile").cast("long").alias("decile"),
                    F.col("o_totalprice").alias("value")))


def _embedding_dup_oracle(dim: int = 64, threshold: float = 0.4) -> str:
    from map_reduce_mongodb_spark.functions.vectors import (
        dot_unrolled_sql, norm_sq_unrolled_sql)
    nsq = norm_sq_unrolled_sql("embedding", dim)
    dot = dot_unrolled_sql("a.vn", "b.vn", dim)
    return f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(x AS DOUBLE) / sqrt({nsq})) AS vn
  FROM embeddings)
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({dot}, 6) AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id)
WHERE cosine >= {threshold}
"""


@query("embedding_dup_pairs", oracle=_embedding_dup_oracle())
def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection (the dedup family's vector
    member), scale path: distributed blocked-GEMM candidate filter
    (one BLAS matmul per block pair, margin-widened threshold) + exact
    JVM-side cosine verification, bit-identical to the exact all-pairs
    oracle — the margin (1e-4) dwarfs BLAS-vs-JVM summation-order
    divergence (~1e-15), so no qualifying pair can be missed. See
    operators/similarity.py:embedding_dup_pairs for the scale
    accounting and why sign-LSH is the wrong tool at threshold 0.4.
    Reads the once-materialized pair table (`_embedding_pairs_04`,
    shared with `semantic_dedup_clusters`)."""
    return _embedding_pairs_04(spark, sf_dir)


@query("string_functions", oracle="""
SELECT c_custkey,
       levenshtein(c_name, 'Customer#000000001') AS lev_to_first,
       reverse(c_name) AS name_rev,
       translate(c_name, '#0', '_x') AS name_tr,
       left(c_name, 8) AS name_l8,
       right(c_name, 6) AS name_r6,
       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad,
       split_part(c_name, '#', 2) AS name_num,
       replace(c_name, 'Customer', 'Cust') AS name_short,
       instr(c_name, '#') AS hash_pos
FROM customer
""")
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function library sweep (edit distance, slicing, padding,
    translation) — all JVM built-ins with exact DuckDB twins."""
    c = table(spark, "customer", sf_dir)
    return c.select(
        "c_custkey",
        F.levenshtein("c_name", F.lit("Customer#000000001")).alias("lev_to_first"),
        F.reverse("c_name").alias("name_rev"),
        F.translate("c_name", "#0", "_x").alias("name_tr"),
        F.substring("c_name", 1, 8).alias("name_l8"),
        F.expr("right(c_name, 6)").alias("name_r6"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_pad"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_num"),
        F.regexp_replace("c_name", "Customer", "Cust").alias("name_short"),
        F.instr("c_name", "#").alias("hash_pos"),
    )


@query("array_functions", oracle="""
SELECT vec_id,
       len(embedding) AS dim,
       len(list_filter(embedding, x -> x > 0)) AS n_positive,
       list_max(embedding) AS max_component,
       list_min(embedding) AS min_component,
       round(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 3) AS sq_sum
FROM embeddings
""")
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function sweep over the embedding column
    (filter / transform / aggregate / min / max lambdas)."""
    emb = table(spark, "embeddings", sf_dir)
    sq_sum = F.aggregate(
        F.transform("embedding",
                    lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
        F.array_max("embedding").alias("max_component"),
        F.array_min("embedding").alias("min_component"),
        F.round(sq_sum, 3).alias("sq_sum"),
    )


@query("date_functions", oracle="""
SELECT o_orderkey,
       o_orderdate + INTERVAL 30 DAY AS due_date,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
       datediff('day', DATE '1992-01-01', o_orderdate) AS days_since_epoch,
       dayofweek(o_orderdate) AS dow0,
       CAST(quarter(o_orderdate) AS INTEGER) AS q,
       CAST(weekofyear(o_orderdate) AS INTEGER) AS woy
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
""")
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function sweep. Engine alignment notes: Spark
    dayofweek is 1-based Sunday, DuckDB 0-based (−1 here); DuckDB
    date_trunc returns DATE (cast to TIMESTAMP there)."""
    o = table(spark, "orders", sf_dir)
    return o.filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    ).select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_date"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        # NTZ: a DATE→LTZ cast shifts +1h on a month-end whose local
        # midnight falls in a DST gap (the inflight_sweepline class)
        F.last_day("o_orderdate").cast("timestamp_ntz").alias("month_end"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .alias("days_since_epoch"),
        (F.dayofweek("o_orderdate") - 1).alias("dow0"),
        F.quarter("o_orderdate").cast("int").alias("q"),
        F.weekofyear("o_orderdate").cast("int").alias("woy"),
    )


@query("pivot_priority_status", oracle="""
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
       count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
       count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
FROM orders
GROUP BY o_orderpriority
""")
def q_pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first-class DataFrame pivot API (groupBy().pivot() with
    explicit values — no extra value-discovery pass) — A2's manual
    conditional pivot as the engine feature."""
    o = table(spark, "orders", sf_dir)
    out = (o.groupBy("o_orderpriority")
           .pivot("o_orderstatus", ["O", "F", "P"])
           .agg(F.count(F.lit(1))))
    # pivot leaves NULL for empty cells; the FILTER oracle yields 0
    return out.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("O", "F", "P")])


@query("posexplode_components", oracle="""
SELECT vec_id, i AS pos, embedding[i] AS comp
FROM embeddings, UNNEST(generate_series(1, 5)) AS t(i)
""")
def q_posexplode_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (UDTF family): first 5 embedding components
    with their 1-based position."""
    emb = table(spark, "embeddings", sf_dir)
    return (
        emb.select("vec_id", F.posexplode(F.slice("embedding", 1, 5)))
        .select("vec_id", (F.col("pos") + 1).alias("pos"),
                F.col("col").alias("comp"))
    )


@query("null_semantics", oracle="""
SELECT o_orderstatus,
       count(*) AS n,
       count(nullif(o_orderpriority, '1-URGENT')) AS n_not_urgent,
       count(*) FILTER (WHERE nullif(o_orderpriority, '1-URGENT')
                        IS NOT DISTINCT FROM NULL) AS n_urgent_nullsafe,
       coalesce(max(nullif(o_orderpriority, '5-LOW')), 'ALL-LOW') AS top_prio
FROM orders
GROUP BY o_orderstatus
""")
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling semantics: nullif, null-skipping count, null-safe
    equality (<=> / IS NOT DISTINCT FROM), coalesce fallback."""
    o = table(spark, "orders", sf_dir)
    not_urgent = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(not_urgent).alias("n_not_urgent"),
        F.count(F.when(not_urgent.eqNullSafe(F.lit(None)), 1))
        .alias("n_urgent_nullsafe"),
        F.coalesce(F.max(F.nullif(F.col("o_orderpriority"), F.lit("5-LOW"))),
                   F.lit("ALL-LOW")).alias("top_prio"),
    )


def _minhash_md5_ctes(num_hashes: int = 16, bands: int = 4,
                      shingle_n: int = 3,
                      pair_pred: str = "a.doc_id < b.doc_id") -> str:
    """The WITH-block shared by every md5-MinHash oracle: shingle
    base → per-seed digests → 16 signature lanes → band buckets →
    distinct candidate pairs. Final SELECTs differ per query."""
    r = num_hashes // bands
    # 4 lanes per md5 digest, mirroring the Spark side:
    # s[4i+j] = min over shingles of md5(g || '#i') hex digits
    # [8j+1, 8j+8]. DuckDB computes each digest list once in `dig`.
    dig_exprs = ",\n         ".join(
        f"list_transform(s, g -> md5(g || '#{i}')) AS m{i}"
        for i in range(num_hashes // 4))
    sig_exprs = ",\n         ".join(
        f"list_min(list_transform(m{i}, h -> substr(h, {8 * j + 1}, 8)))"
        f" AS s{4 * i + j}"
        for i in range(num_hashes // 4) for j in range(4))
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5({' || '.join(f's{b * r + j}' for j in range(r))}) AS bucket "
        f"FROM sig" for b in range(bands))
    grams = " || ' ' || ".join(f"w[i+{j}]" for j in range(shingle_n))
    return f"""
WITH base AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, len(w) - {shingle_n - 1}),
             i -> {grams})) AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS w
        FROM documents)
  WHERE len(w) >= {shingle_n}),
dig AS (
  SELECT doc_id,
         {dig_exprs}
  FROM base),
sig AS (
  SELECT doc_id,
         {sig_exprs}
  FROM dig),
bands AS (
  {band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE {pair_pred})"""


def _minhash_md5_oracle(threshold: float = 0.7, num_hashes: int = 16,
                        bands: int = 4, shingle_n: int = 3,
                        pair_pred: str = "a.doc_id < b.doc_id") -> str:
    return _minhash_md5_ctes(num_hashes, bands, shingle_n, pair_pred) + f"""
SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b,
         round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
               / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6)
         AS jaccard
  FROM cand JOIN base x ON x.doc_id = id_a
            JOIN base y ON y.doc_id = id_b)
WHERE jaccard >= {threshold}
"""


def _minhash_est_oracle(num_hashes: int = 16, bands: int = 4,
                        shingle_n: int = 3) -> str:
    matches = " + ".join(
        f"CASE WHEN sx.s{i} = sy.s{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes))
    return _minhash_md5_ctes(num_hashes, bands, shingle_n) + f"""
SELECT id_a, id_b, est_jaccard, jaccard,
       round(abs(est_jaccard - jaccard), 6) AS abs_err
FROM (
  SELECT id_a, id_b,
         round(({matches}) / {float(num_hashes)}, 6) AS est_jaccard,
         round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
               / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6)
         AS jaccard
  FROM cand JOIN sig sx ON sx.doc_id = id_a
            JOIN sig sy ON sy.doc_id = id_b
            JOIN base x ON x.doc_id = id_a
            JOIN base y ON y.doc_id = id_b)
"""


@query("incremental_dedup_pairs", oracle=_minhash_md5_oracle(
    pair_pred="a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0"))
def q_incremental_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-delta dedup: an arriving batch (doc_id % 10 = 0 stands in
    for "today's crawl") near-dup-matched AGAINST the standing corpus
    via the md5 MinHash-LSH cross join — candidate volume scales with
    the batch, not the corpus². Fully oracle-checked like the
    self-join variant."""
    from map_reduce_mongodb_spark.operators.dedup import (
        minhash_incremental_pairs)
    return minhash_incremental_pairs(
        _md5_minhash_index(spark, sf_dir),
        is_new=F.col("doc_id") % 10 == 0, threshold=0.7)


def _md5_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The md5-lane MinHash index over documents — ``(doc_id, sh,
    sig)`` from ``dedup.minhash_index`` — shared by THREE registered
    queries (`minhash_lsh_md5`, `incremental_dedup_pairs`,
    `minhash_estimate_accuracy`) and materialized once per process
    (cache.shared_parquet — the production layout: a signature table
    is written once per corpus snapshot and every dedup/calibration
    consumer reads it; band buckets are a narrow projection each
    consumer re-derives from it)."""
    from map_reduce_mongodb_spark.cache import shared_parquet
    from map_reduce_mongodb_spark.operators.dedup import minhash_index

    return shared_parquet(
        spark, f"md5_minhash_{sf_dir}",
        lambda: minhash_index(table(spark, "documents", sf_dir),
                              hasher="md5"))


@query("minhash_estimate_accuracy", oracle=_minhash_est_oracle())
def q_minhash_estimate_accuracy(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Sketch-accuracy measurement for the md5 MinHash pipeline: every
    LSH candidate pair with its signature-lane Jaccard ESTIMATE
    (matching lanes / 16, the unbiased MinHash estimator), the exact
    shingle Jaccard, and the absolute error — the calibration a
    pipeline owner checks before trusting a banding configuration at
    corpus scale. Candidate-bounded join volume (never all pairs);
    md5 lanes keep estimate AND truth DuckDB-reproducible, so the
    driver hash-checks the estimator itself."""
    from map_reduce_mongodb_spark.operators.dedup import minhash_estimate
    return minhash_estimate(_md5_minhash_index(spark, sf_dir))


@query("minhash_lsh_md5", oracle=_minhash_md5_oracle())
def q_minhash_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with engine-portable md5-derived
    hashes — the FULL LSH pipeline (signatures → banding → bucket
    candidates → Jaccard verification) oracle-checked end-to-end in
    DuckDB, closing the usual "LSH is unverifiable" gap. The same
    `dedup.minhash_pairs` code as `minhash_dedup_pairs`; only the hash
    lane differs."""
    from map_reduce_mongodb_spark.operators.dedup import minhash_pairs
    return minhash_pairs(_md5_minhash_index(spark, sf_dir), threshold=0.7)


# =====================================================================
# TPC-H completion — the remaining classic shapes (q2,q6,q7,q8,q9,q11,
# q12,q14,q15,q19,q21,q22), adapted to the testdata schema (no
# partsupp / l_commitdate / l_shipmode / c_phone; adaptations keep each
# query's CHARACTERISTIC plan shape: correlated-min, disjunctive
# pushdown, double-EXISTS, scalar-subquery HAVING, ...).  With these,
# all 22 TPC-H query shapes are registered and oracle-checked.
# =====================================================================

@query("q6_forecast_revenue", oracle="""
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(l_discount AS DECIMAL(12,2))), 2) AS DOUBLE)
         AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — the pure scan-filter-aggregate: every predicate
    (date range, discount band, quantity cap) pushes to the parquet
    scan, no join, no shuffle beyond the single-row final aggregate.
    The litmus test for predicate pushdown + partial aggregation."""
    li = table(spark, "lineitem", sf_dir)
    return (li.filter(
                (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
                & F.col("l_discount").between(0.05, 0.07)
                & (F.col("l_quantity") < 24))
              .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")
                                 * F.col("l_discount").cast("decimal(12,2)")),
                           2).cast("double").alias("revenue"),
                   F.count(F.lit(1)).alias("n_lines")))


@query("q7_volume_shipping", oracle=f"""
SELECT supp_nation, cust_nation, yr,
       CAST(round(sum(volume), 2) AS DOUBLE) AS revenue
FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS yr,
             {_REV_DEC_SQL} AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01') shipping
GROUP BY supp_nation, cust_nation, yr
""")
def q_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — bilateral trade volume between two nations by
    year. The nation dimension joins TWICE under different roles
    (supplier's vs customer's nation) with a symmetric pair predicate
    applied AFTER both joins; at graded SFs lineitem streams through
    planner-chosen broadcast builds (nation pinned, the rest
    un-hinted) and only the tiny (nation, nation, year) aggregate
    shuffles."""
    li = table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    o = table(spark, "orders", sf_dir)
    c = table(spark, "customer", sf_dir)
    s = table(spark, "supplier", sf_dir)
    n1 = table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_name").alias("supp_nation"))
    n2 = table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("cust_nation"))
    pair = ((F.col("supp_nation") == "NATION_1")
            & (F.col("cust_nation") == "NATION_2")) | (
           (F.col("supp_nation") == "NATION_2")
            & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .withColumn("yr", F.year("l_shipdate").cast("bigint"))
        .groupBy("supp_nation", "cust_nation", "yr")
        .agg(F.round(F.sum(_rev_dec()), 2).cast("double")
              .alias("revenue")))


@query("q8_market_share", oracle=f"""
WITH all_nations AS (
  SELECT year(o_orderdate) AS yr,
         {_REV_DEC_SQL} AS volume,
         n2.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01'),
per_year AS (
  SELECT yr,
         CAST(round(sum(CASE WHEN supp_nation = 'NATION_3'
                        THEN volume ELSE 0 END), 2) AS DOUBLE)
           AS nation_revenue,
         CAST(round(sum(volume), 2) AS DOUBLE) AS total_revenue
  FROM all_nations GROUP BY yr)
SELECT yr, nation_revenue, total_revenue,
       round(nation_revenue / total_revenue, 6) AS mkt_share
FROM per_year
""")
def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: one nation's slice of a
    region's trade in one part type, by order year. Nation joins twice
    (customer side filters the region, supplier side labels the
    seller); the share divides the two ROUNDED sums so both engines
    divide bit-identical inputs (unrounded double sums differ in
    accumulation order)."""
    p = table(spark, "part", sf_dir).filter(F.col("p_type") == "ECONOMY")
    li = table(spark, "lineitem", sf_dir)
    s = table(spark, "supplier", sf_dir)
    o = table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    c = table(spark, "customer", sf_dir)
    n1 = table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_regionkey").alias("n1_region"))
    r = table(spark, "region", sf_dir).filter(F.col("r_name") == "AMERICA")
    n2 = table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("supp_nation"))
    vol = _rev_dec()
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .withColumn("yr", F.year("o_orderdate").cast("bigint"))
        .groupBy("yr")
        .agg(F.round(F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)
                            .otherwise(F.lit(0))), 2).cast("double")
             .alias("nation_revenue"),
             F.round(F.sum(vol), 2).cast("double").alias("total_revenue"))
        .withColumn("mkt_share",
                    F.round(F.col("nation_revenue")
                            / F.col("total_revenue"), 6)))


@query("q9_product_type_profit", oracle=f"""
SELECT nation, yr, CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
FROM (SELECT n_name AS nation, year(o_orderdate) AS yr,
             {_REV_DEC_SQL}
               - CAST(0.5 AS DECIMAL(2,1))
                 * CAST(p_retailprice AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,0)) AS amount
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN part     ON p_partkey = l_partkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%') profit
GROUP BY nation, yr
""")
def q_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — profit on a product line by supplier nation and
    order year. The testdata has no partsupp, so supply cost is proxied
    as 0.5 * p_retailprice * l_quantity (per-row arithmetic, bit-equal
    across engines). The substring filter on p_name cannot push as a
    parquet min/max predicate but still prunes the build side
    before the fact-table join.

    Join strategy (r6 policy): only nation keeps an explicit
    broadcast hint (25 rows at every SF). part/supplier/orders scale
    with SF — around SF1k they outgrow broadcast range, so their
    joins are UN-HINTED and strategy stays with the planner: the
    64 MB auto-threshold broadcasts them at graded SFs (pinned in
    tests/test_plans.py — all four joins must still build the dim
    side and stream lineitem) and AQE switches to SMJ on the sorted
    fact keys at cluster scale, where a forced hint would OOM."""
    li = table(spark, "lineitem", sf_dir)
    p = table(spark, "part", sf_dir).filter(F.col("p_name").like("%red%"))
    s = table(spark, "supplier", sf_dir)
    o = table(spark, "orders", sf_dir)
    n = table(spark, "nation", sf_dir)
    amount = (_rev_dec()
              - F.expr("CAST(0.5 AS DECIMAL(2,1))")
                * F.col("p_retailprice").cast("decimal(12,2)")
                * F.col("l_quantity").cast("decimal(12,0)"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"),
                F.year("o_orderdate").cast("bigint").alias("yr"),
                amount.alias("amount"))
        .groupBy("nation", "yr")
        .agg(F.round(F.sum("amount"), 2).cast("double")
             .alias("sum_profit")))


@query("q11_important_stock", oracle="""
WITH vals AS (
  SELECT l_partkey, CAST(sum(l_quantity) AS DOUBLE) AS part_value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_0', 'NATION_1', 'NATION_2')
  GROUP BY l_partkey)
SELECT l_partkey AS p_key, part_value
FROM vals
WHERE part_value > (SELECT sum(part_value) * 0.001 FROM vals)
""")
def q_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — HAVING against a scalar subquery over the
    SAME aggregate: parts holding an outsized share of three nations'
    moved stock. Spark computes the per-part aggregate once, derives
    the grand total from it, and broadcasts the 1-row total into the
    filter (no second scan of lineitem). Quantities are integral
    doubles, so both engines' sums are exact and the > threshold is
    deterministic."""
    li = table(spark, "lineitem", sf_dir)
    s = table(spark, "supplier", sf_dir)
    n = table(spark, "nation", sf_dir).filter(
        F.col("n_name").isin("NATION_0", "NATION_1", "NATION_2"))
    vals = (li.join(s, li.l_suppkey == s.s_suppkey)
              .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
              .groupBy("l_partkey")
              .agg(F.sum("l_quantity").alias("part_value")))
    total = vals.agg((F.sum("part_value") * 0.001).alias("threshold"))
    return (vals.join(F.broadcast(total))
                .filter(F.col("part_value") > F.col("threshold"))
                .select(F.col("l_partkey").alias("p_key"), "part_value"))


@query("q12_late_shipments", oracle="""
SELECT l_returnflag AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_shipdate >  o_orderdate + INTERVAL 30 DAY
GROUP BY l_returnflag
""")
def q_q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — conditional priority counts over a join with
    a non-equi lateness predicate. The testdata has no l_shipmode /
    l_commitdate, so the grouping "mode" is l_returnflag and "late" is
    shipped >30 days after the order date (predicate referencing BOTH
    sides, evaluated inside the join). CASE-sums keep it one pass."""
    li = table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    o = table(spark, "orders", sf_dir)
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o,
                (li.l_orderkey == o.o_orderkey)
                & (li.l_shipdate
                   > o.o_orderdate + F.expr("INTERVAL 30 DAYS")))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(F.sum(F.when(urgent, 1).otherwise(0))
              .alias("high_line_count"),
             F.sum(F.when(~urgent, 1).otherwise(0))
              .alias("low_line_count")))


@query("q14_promo_revenue", oracle=f"""
WITH month_rev AS (
  SELECT CAST(round(sum(CASE WHEN p_type = 'PROMO'
                        THEN {_REV_DEC_SQL}
                        ELSE 0 END), 2) AS DOUBLE) AS promo_revenue,
         CAST(round(sum({_REV_DEC_SQL}), 2) AS DOUBLE)
           AS total_revenue
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
    AND l_shipdate <  TIMESTAMP '1997-10-01')
SELECT promo_revenue, total_revenue,
       round(100.0 * promo_revenue / total_revenue, 6) AS promo_pct
FROM month_rev
""")
def q_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promo share of one month's revenue: CASE-sum
    ratio in a single pass over the date-pruned fact slice. The
    percentage divides the two ROUNDED sums (identical doubles on both
    engines) rather than the raw accumulator values."""
    li = table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp")))
    p = table(spark, "part", sf_dir)
    vol = _rev_dec()
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(F.round(F.sum(F.when(F.col("p_type") == "PROMO", vol)
                            .otherwise(F.lit(0))), 2).cast("double")
             .alias("promo_revenue"),
             F.round(F.sum(vol), 2).cast("double").alias("total_revenue"))
        .withColumn("promo_pct",
                    F.round(100.0 * F.col("promo_revenue")
                            / F.col("total_revenue"), 6)))


@query("q2_min_cost_supplier", oracle="""
WITH offers AS (
  SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, s_acctbal,
         n_name,
         l_extendedprice / l_quantity AS unit_cost
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE' AND p_type = 'SMALL'
    AND p_size BETWEEN 10 AND 20)
SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
       unit_cost
FROM offers o
WHERE unit_cost = (SELECT min(unit_cost) FROM offers i
                   WHERE i.p_partkey = o.p_partkey)
""")
def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — the correlated-min subquery: for each
    qualifying part, the European supplier(s) offering it at the
    minimum unit cost. No partsupp in the testdata, so the offer book
    is DISTINCT (part, supplier, unit price) rows derived from
    lineitem. The correlated `= (SELECT min ...)` decorrelates to a
    per-part window min — one shuffle on p_partkey instead of a
    rescan, the classic Catalyst rewrite. Unit cost is the RAW
    per-row IEEE division — bit-identical across engines — never
    rounded: a round(x, 4) here flipped half-ulp boundaries between
    Spark and DuckDB at sf0.1, which not only shifted the printed
    cost but changed WHICH offer tied the per-part minimum (60.27125
    → .2712 vs .2713 selected different supplier rows)."""
    li = table(spark, "lineitem", sf_dir)
    p = table(spark, "part", sf_dir).filter(
        (F.col("p_type") == "SMALL") & F.col("p_size").between(10, 20))
    s = table(spark, "supplier", sf_dir)
    n = table(spark, "nation", sf_dir)
    r = table(spark, "region", sf_dir).filter(F.col("r_name") == "EUROPE")
    offers = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name",
                "s_acctbal", "n_name",
                (F.col("l_extendedprice") / F.col("l_quantity"))
                .alias("unit_cost"))
        .distinct())
    w = Window.partitionBy("p_partkey")
    return (offers
            .withColumn("_min_cost", F.min("unit_cost").over(w))
            .filter(F.col("unit_cost") == F.col("_min_cost"))
            .drop("_min_cost"))


@query("q15_top_supplier", oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(round(sum({_REV_DEC_SQL}), 2) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""")
def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — the revenue "view" reused twice: once as the
    join input, once inside the scalar max. Spark materializes the
    per-supplier aggregate once; the 1-row max is broadcast into the
    filter, and the un-hinted supplier join builds the dim side via
    the threshold at graded SFs.
    Equality on a rounded double is deterministic because both
    engines round the same per-supplier sums."""
    li = table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")))
    revenue = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
                 .agg(F.round(F.sum(_rev_dec()), 2).cast("double")
                       .alias("total_revenue")))
    top = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    s = table(spark, "supplier", sf_dir)
    return (revenue.join(F.broadcast(top))
            .filter(F.col("total_revenue") == F.col("_max_rev"))
            .join(s,
                  F.col("supplier_no") == s.s_suppkey)
            .select("s_suppkey", "s_name", "total_revenue"))


@query("q19_discounted_revenue", oracle=f"""
SELECT CAST(round(sum({_REV_DEC_SQL}), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
""")
def q_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — the OR-of-ANDs predicate straddling the join:
    each disjunct pairs part attributes with a lineitem quantity band.
    The part-only implication of the disjunction (brand ∈ {...} and
    the per-brand size cap) pre-filters the build side so the
    fact-table join probes a small hash table at graded SFs (the part
    join is un-hinted — part scales with SF); the exact disjunction
    is re-applied after the join."""
    li = table(spark, "lineitem", sf_dir)
    part_pre = ((F.col("p_brand") == "Brand#3")
                & F.col("p_size").between(1, 15)) | (
               (F.col("p_brand") == "Brand#14")
                & F.col("p_size").between(1, 25)) | (
               (F.col("p_brand") == "Brand#21")
                & F.col("p_size").between(1, 35))
    p = table(spark, "part", sf_dir).filter(part_pre)
    full = ((F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)) | (
           (F.col("p_brand") == "Brand#14")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)) | (
           (F.col("p_brand") == "Brand#21")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30))
    return (li.join(p, li.l_partkey == p.p_partkey)
              .filter(full)
              .agg(F.round(F.sum(_rev_dec()), 2).cast("double")
                    .alias("revenue"),
                   F.count(F.lit(1)).alias("n_lines")))


@query("q21_suppliers_kept_waiting", oracle="""
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
""")
def q_q21_suppliers_kept_waiting(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — the sole-blame pattern: suppliers whose line
    on a finished multi-supplier order shipped late (>60 days after
    the order date — no l_commitdate/l_receiptdate in the testdata)
    while NO other supplier on that order was late. EXISTS → left-semi
    and NOT EXISTS → left-anti against the same fact table, both with
    an extra non-equi (<> supplier) condition on the equi orderkey
    join — no pair explosion, no distinct."""
    li = table(spark, "lineitem", sf_dir)
    o = table(spark, "orders", sf_dir).filter(
        F.col("o_orderstatus") == "F")
    late = (li.join(o,
                    (li.l_orderkey == o.o_orderkey)
                    & (li.l_shipdate
                       > o.o_orderdate + F.expr("INTERVAL 60 DAYS")))
              .select("l_orderkey", "l_suppkey"))
    l2 = li.select(F.col("l_orderkey").alias("o2"),
                   F.col("l_suppkey").alias("s2"))
    l3 = late.select(F.col("l_orderkey").alias("o3"),
                     F.col("l_suppkey").alias("s3"))
    s = table(spark, "supplier", sf_dir)
    blamed = (
        late.join(l2, (F.col("l_orderkey") == F.col("o2"))
                  & (F.col("l_suppkey") != F.col("s2")), "left_semi")
            .join(l3, (F.col("l_orderkey") == F.col("o3"))
                  & (F.col("l_suppkey") != F.col("s3")), "left_anti"))
    return (blamed.join(s,
                        F.col("l_suppkey") == s.s_suppkey)
                  .groupBy("s_name")
                  .agg(F.count(F.lit(1)).alias("numwait")))


@query("q22_global_sales_opportunity", oracle="""
WITH pool AS (
  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
  WHERE c_nationkey IN (1, 2, 3, 4, 5, 6, 7)),
avg_bal AS (
  SELECT avg(c_acctbal) AS ab FROM pool WHERE c_acctbal > 0.0)
SELECT c_nationkey AS cntrycode,
       CAST(count(*) AS BIGINT) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM pool, avg_bal
WHERE c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= DATE '2001-01-01')
GROUP BY c_nationkey
""")
def q_q22_global_sales_opportunity(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — dormant rich customers: above-average balance
    (scalar AVG subquery over the same slice), no orders in the
    current year (anti join against the recent-orders slice), grouped
    by country (c_nationkey stands in for the phone prefix). The
    1-row average broadcasts into the filter; the anti join shuffles
    only the filtered customer slice. The literal Q22 predicate is
    "never ordered at all", which is vacuous on the synthetic corpus
    (every customer has orders — see TESTDATA.md); the dormancy
    cutoff keeps the anti-join shape while returning a non-empty,
    oracle-checkable result (83 rows at sf0.01)."""
    c = table(spark, "customer", sf_dir).filter(
        F.col("c_nationkey").isin(1, 2, 3, 4, 5, 6, 7))
    avg_bal = (c.filter(F.col("c_acctbal") > 0.0)
                .agg(F.avg("c_acctbal").alias("ab")))
    o = (table(spark, "orders", sf_dir)
         .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("date"))
         .select("o_custkey"))
    return (c.join(F.broadcast(avg_bal))
             .filter(F.col("c_acctbal") > F.col("ab"))
             .join(o, c.c_custkey == o.o_custkey, "left_anti")
             .groupBy(F.col("c_nationkey").alias("cntrycode"))
             .agg(F.count(F.lit(1)).alias("numcust"),
                  F.round(F.sum("c_acctbal"), 2).alias("totacctbal")))


# =====================================================================
# Round-3 additions: retrieval ranking, SQL-surface completions,
# product analytics, and corpus-monitoring shapes
# =====================================================================

_BM25_TERMS = ("spark", "join", "window")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_ctes() -> str:
    """The WITH-block computing per-doc BM25 scores (`scored`), shared
    by the bm25_search oracle and the RRF fusion oracle."""
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, len(w) AS dl,
         unnest(w) AS tok
  FROM (SELECT doc_id,
               string_split_regex(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+') AS w
        FROM documents)),
tf AS (
  SELECT doc_id, any_value(dl) AS dl, tok,
         CAST(count(*) AS DOUBLE) AS tf
  FROM toks WHERE tok IN ({terms})
  GROUP BY doc_id, tok),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         avg(len(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+')))
           AS avg_dl
  FROM documents),
idf AS (
  SELECT tok, ln((stats.n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf
  FROM (SELECT tok, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
        FROM tf GROUP BY tok), stats),
scored AS (
  SELECT tf.doc_id,
         sum(idf.idf * tf.tf * ({_BM25_K1} + 1.0)
             / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                + {_BM25_B} * tf.dl / stats.avg_dl))) AS s
  FROM tf JOIN idf ON tf.tok = idf.tok, stats
  GROUP BY tf.doc_id)"""


def _bm25_oracle() -> str:
    return _bm25_ctes() + """
SELECT doc_id, round(s, 4) AS bm25
FROM scored
ORDER BY round(s, 4) DESC, doc_id
LIMIT 20
"""


def _rrf_oracle(dim: int = 64, k: int = 20, out_k: int = 10,
                rrf_k: int = 60) -> str:
    from map_reduce_mongodb_spark.functions.vectors import (
        cosine_unrolled_sql)
    cos = cosine_unrolled_sql("qv", "cv", dim)
    return _bm25_ctes() + f""",
lex AS (
  SELECT doc_id, lex_rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY round(s, 4) DESC, doc_id)
             AS lex_rank
    FROM scored)
  WHERE lex_rank <= {k}),
dense AS (
  SELECT doc_id, dense_rank FROM (
    SELECT neighbor_id AS doc_id,
           row_number() OVER (ORDER BY cosine DESC, neighbor_id)
             AS dense_rank
    FROM (SELECT c.vec_id AS neighbor_id, {cos} AS cosine
          FROM (SELECT vec_id, embedding AS cv FROM embeddings) c,
               (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
          WHERE c.vec_id <> 0))
  WHERE dense_rank <= {k})
SELECT doc_id, lex_rank, dense_rank, rrf, fused_rank FROM (
  SELECT doc_id, lex_rank, dense_rank, rrf,
         row_number() OVER (ORDER BY rrf DESC, doc_id) AS fused_rank
  FROM (
    SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
           CAST(coalesce(l.lex_rank, 0) AS BIGINT) AS lex_rank,
           CAST(coalesce(d.dense_rank, 0) AS BIGINT) AS dense_rank,
           round(coalesce(1.0 / ({rrf_k} + l.lex_rank), 0.0)
                 + coalesce(1.0 / ({rrf_k} + d.dense_rank), 0.0), 6)
             AS rrf
    FROM lex l FULL JOIN dense d ON l.doc_id = d.doc_id))
WHERE fused_rank <= {out_k}
"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s) raw BM25 scores for the fixed keyword query — the
    shared upstream of `bm25_search` and `rrf_fusion`."""
    docs = table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        F.split(F.lower(F.trim("text")), r"[ \t\n\x0B\f\r]+").alias("w"))
    tf = (toks.select("doc_id", F.size("w").alias("dl"),
                      F.explode("w").alias("tok"))
          .filter(F.col("tok").isin(*_BM25_TERMS))
          .groupBy("doc_id", "tok")
          .agg(F.first("dl").alias("dl"),
               F.count(F.lit(1)).cast("double").alias("tf")))
    stats = toks.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size("w")).alias("avg_dl"))
    idf = (tf.groupBy("tok")
           .agg(F.countDistinct("doc_id").cast("double").alias("df"))
           .join(F.broadcast(stats))
           .select("tok", F.log((F.col("n_docs") - F.col("df") + 0.5)
                                / (F.col("df") + 0.5) + 1.0).alias("idf")))
    k1, b = _BM25_K1, _BM25_B
    term_score = (F.col("idf") * F.col("tf") * (k1 + 1.0)
                  / (F.col("tf") + k1 * (1.0 - b
                     + b * F.col("dl") / F.col("avg_dl"))))
    return (tf.join(idf, "tok")
              .join(F.broadcast(stats))
              .groupBy("doc_id").agg(F.sum(term_score).alias("s")))


@query("bm25_search", oracle=_bm25_oracle())
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval over the documents table — the lexical
    ranking half of a retrieval pipeline (the dense half is
    cosine_topk/hybrid_search). Corpus statistics (N, avgdl) are one
    tiny aggregate broadcast into the per-(doc, term) score; term
    frequencies come from one narrow explode+filter+groupBy keyed by
    (doc, term) — at 100 TB this is the standard two-pass BM25: no
    all-pairs anything, shuffle volume bounded by matching postings
    only (the term filter prunes before the shuffle). Top-k with a
    deterministic doc_id tiebreak; BOTH engines rank on the
    4-decimal-ROUNDED score (not the raw float sum), so a
    cross-engine last-bit difference near the rank-20 boundary
    cannot select different docs (ADVICE r3)."""
    scored = _bm25_scored(spark, sf_dir)
    return (scored
            .orderBy(F.round("s", 4).desc(), F.asc("doc_id")).limit(20)
            .select("doc_id", F.round("s", 4).alias("bm25")))


@query("rrf_fusion", oracle=_rrf_oracle())
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion — the standard combiner for hybrid
    retrieval (Cormack et al.): the lexical BM25 top-20 and the dense
    cosine top-20 (query vector 0) merge by
    rrf = Σ 1/(60 + rank), absent-list docs contributing nothing;
    output is the fused top-10 with both source ranks (0 = not in
    that list, keeping the column integer-typed for the hash compare).

    Both source rankings are deterministic (rounded-score/doc_id
    tiebreaks), the fused score sums identical doubles in both
    engines, and the final rank orders by the ROUNDED fused score —
    so the whole fusion is hash-checked. Scale shape: two top-k
    pipelines (each already bounded) + a full-outer join of two
    20-row lists + one 40-row window — the fusion stage costs nothing
    at any corpus size."""
    from map_reduce_mongodb_spark.functions.vectors import cosine_unrolled
    k, rrf_k, out_k = 20, 60, 10
    # Both top-k cuts run as orderBy+limit (TakeOrderedAndProject —
    # per-partition heaps, no global sort); the row_number window then
    # ranks only the surviving k rows.
    lex = (_bm25_scored(spark, sf_dir)
           .orderBy(F.round("s", 4).desc(), F.asc("doc_id")).limit(k)
           .withColumn("lex_rank",
                       F.row_number().over(
                           Window.orderBy(F.round("s", 4).desc(),
                                          F.asc("doc_id"))))
           .select("doc_id", "lex_rank"))
    emb = table(spark, "embeddings", sf_dir)
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"))
    dense = (emb.filter(F.col("vec_id") != 0)
             .select(F.col("vec_id").alias("doc_id"),
                     F.col("embedding").alias("cv"))
             .crossJoin(F.broadcast(q0))
             .withColumn("cosine", cosine_unrolled("qv", "cv", 64))
             .orderBy(F.desc("cosine"), F.asc("doc_id")).limit(k)
             .withColumn("dense_rank",
                         F.row_number().over(
                             Window.orderBy(F.desc("cosine"),
                                            F.asc("doc_id"))))
             .select("doc_id", "dense_rank"))
    fused = (lex.join(dense, "doc_id", "full_outer")
             .select("doc_id",
                     F.coalesce("lex_rank", F.lit(0)).cast("long")
                     .alias("lex_rank"),
                     F.coalesce("dense_rank", F.lit(0)).cast("long")
                     .alias("dense_rank"),
                     F.round(
                         F.coalesce(1.0 / (rrf_k + F.col("lex_rank")),
                                    F.lit(0.0))
                         + F.coalesce(1.0 / (rrf_k + F.col("dense_rank")),
                                      F.lit(0.0)), 6).alias("rrf")))
    return (fused
            .withColumn("fused_rank",
                        F.row_number().over(
                            Window.orderBy(F.desc("rrf"),
                                           F.asc("doc_id"))))
            .filter(F.col("fused_rank") <= out_k)
            .select("doc_id", "lex_rank", "dense_rank", "rrf",
                    F.col("fused_rank").cast("long").alias("fused_rank")))


@query("grouping_sets_agg", oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS rf,
       coalesce(l_linestatus, 'ALL') AS ls,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
            AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(l_extendedprice), 2) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                        (l_returnflag), ())
""")
def q_grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind the registered
    rollup/cube queries): per (flag, status), per flag, and grand
    total in ONE pass — Spark expands the sets into a single Expand +
    hash-aggregate (each input row fans out to its grouping sets
    map-side; still one shuffle, partial aggregation intact).
    grouping_id disambiguates real NULL group keys from subtotal
    rows; subtotal keys are labeled 'ALL' for hash stability."""
    from map_reduce_mongodb_spark.io import load_tables
    load_tables(spark, sf_dir, register_views=True)
    return spark.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               grouping_id() AS gid,
               count(*) AS n,
               round(sum(l_extendedprice), 2) AS revenue
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
    """)


def _funnel_stage_anchors(events: DataFrame):
    """(v, c, p): per-user first_view / first_click / first_purchase
    anchors where each stage happens STRICTLY ('>') after the user's
    first prior-stage event — THE ordered-funnel contract, defined
    once (r9 review: both funnel queries carried verbatim copies, so
    a semantics change — e.g. '>' vs '>=' for simultaneous events —
    could leave the two registered funnels disagreeing about what a
    conversion is)."""
    v = (events.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("first_view")))
    c = (events.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter(F.col("ts") > F.col("first_view"))
         .groupBy("user_id").agg(F.min("ts").alias("first_click")))
    p = (events.filter(F.col("event_type") == "purchase")
         .join(c.select("user_id", "first_click"), "user_id")
         .filter(F.col("ts") > F.col("first_click"))
         .groupBy("user_id").agg(F.min("ts").alias("first_purchase")))
    return v, c, p


@query("funnel_conversion", oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS first_view
  FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, min(e.ts) AS first_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.first_view
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, min(e.ts) AS first_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.first_click
  GROUP BY e.user_id)
SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_view_click,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS n_view_click_purchase
""")
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-stage funnel (view → later click → later purchase):
    how many users progressed through each stage IN ORDER — the
    product-analytics shape windowed counts can't express (stage k+1
    must happen strictly after the user's first stage-k event).
    Implemented as three per-user min-timestamp aggregations, each
    joined to the previous stage's anchor; all shuffles are keyed by
    user_id, and AQE may broadcast the shrinking stage anchors at
    scale. The per-user anchor frames stay distributed — only the
    final three counts are scalars."""
    v, c, p = _funnel_stage_anchors(table(spark, "events", sf_dir))
    return (v.agg(F.count(F.lit(1)).alias("n_view"))
            .join(c.agg(F.count(F.lit(1)).alias("n_view_click")))
            .join(p.agg(F.count(F.lit(1))
                        .alias("n_view_click_purchase"))))


@query("lang_mixture_drift", oracle="""
WITH per_src AS (
  SELECT source, lang, CAST(count(*) AS DOUBLE) AS n_sl
  FROM documents GROUP BY source, lang),
src_tot AS (
  SELECT source, sum(n_sl) AS n_s FROM per_src GROUP BY source),
corpus AS (
  SELECT lang, CAST(count(*) AS DOUBLE)
               / (SELECT count(*) FROM documents) AS p_corpus
  FROM documents GROUP BY lang)
SELECT per_src.source, per_src.lang,
       CAST(n_sl AS BIGINT) AS n_docs,
       round(n_sl / n_s, 6) AS p_source,
       round(p_corpus, 6) AS p_corpus,
       round(n_sl / n_s - p_corpus, 6) AS drift
FROM per_src
JOIN src_tot ON per_src.source = src_tot.source
JOIN corpus ON per_src.lang = corpus.lang
""")
def q_lang_mixture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mixture drift report — the corpus-
    monitoring query behind "source X suddenly skews Chinese": each
    source's language distribution against the corpus-wide mixture,
    with the signed share drift. One narrow (source, lang) count
    feeds everything; the corpus mixture is a broadcast-size join.
    At 100 TB the per-(source, lang) matrix stays tiny regardless of
    corpus size — monitoring cost is O(groups), not O(docs)."""
    docs = table(spark, "documents", sf_dir)
    per_src = (docs.groupBy("source", "lang")
               .agg(F.count(F.lit(1)).cast("double").alias("n_sl")))
    src_tot = per_src.groupBy("source").agg(F.sum("n_sl").alias("n_s"))
    n_total = docs.agg(F.count(F.lit(1)).cast("double").alias("n_tot"))
    corpus = (docs.groupBy("lang")
              .agg(F.count(F.lit(1)).cast("double").alias("n_l"))
              .join(F.broadcast(n_total))
              .select("lang", (F.col("n_l") / F.col("n_tot"))
                      .alias("p_corpus")))
    return (per_src.join(src_tot, "source")
            .join(F.broadcast(corpus), "lang")
            .select("source", "lang",
                    F.col("n_sl").cast("long").alias("n_docs"),
                    F.round(F.col("n_sl") / F.col("n_s"), 6)
                    .alias("p_source"),
                    F.round("p_corpus", 6).alias("p_corpus"),
                    F.round(F.col("n_sl") / F.col("n_s")
                            - F.col("p_corpus"), 6).alias("drift")))


@query("dedup_rate_by_source", oracle="""
WITH fp AS (
  SELECT source,
         md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS f
  FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT f) AS BIGINT) AS n_distinct,
       round(1.0 - CAST(count(DISTINCT f) AS DOUBLE) / count(*), 6)
         AS dup_rate
FROM fp GROUP BY source
""")
def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per source — the curation dashboard number
    that decides which feed gets deduplicated first. One hash-groupBy
    on (source, fingerprint): count-distinct is computed from the
    normalized-md5 fingerprint (functions/text.py), so the metric is
    engine-portable and the shuffle is uniform md5 keys (no skew)."""
    from map_reduce_mongodb_spark.functions.text import fingerprint
    docs = table(spark, "documents", sf_dir)
    return (docs.select("source", fingerprint(F.col("text")).alias("f"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("f").alias("n_distinct"))
            .select("source", "n_docs", "n_distinct",
                    F.round(1.0 - F.col("n_distinct").cast("double")
                            / F.col("n_docs"), 6).alias("dup_rate")))


@query("retention_cohorts", oracle="""
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id),
activity AS (
  SELECT DISTINCT e.user_id, firsts.cohort_week,
         date_trunc('week', e.ts) AS activity_week
  FROM events e JOIN firsts ON e.user_id = firsts.user_id)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, activity_week) // 7
            AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM activity
GROUP BY 1, 2
""")
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week,
    counted in each subsequent week they were active — the classic
    retention triangle. Two aggregations keyed by user_id (first-seen
    week, then distinct active weeks); the cohort matrix itself is
    O(weeks²) rows, independent of event volume."""
    events = table(spark, "events", sf_dir)
    firsts = (events.groupBy("user_id")
              .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week")))
    activity = (events.join(firsts, "user_id")
                .select("user_id", "cohort_week",
                        F.date_trunc("week", "ts").alias("activity_week"))
                .distinct())
    # cohort_week stays TIMESTAMP on both sides: engines disagree on
    # DATE canonicalization (DuckDB fetches DATE as midnight
    # Timestamp), not on timestamps.
    return (activity
            .groupBy("cohort_week",
                     (F.datediff("activity_week", "cohort_week")
                      .cast("long") / 7).cast("long").alias("week_offset"))
            .agg(F.count(F.lit(1)).alias("n_users")))


@query("token_count_bpe", oracle=r"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'))
            AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text,
                '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 \t\n\x0B\f\r]')) AS BIGINT)
         AS n_bpe_tokens,
       round(CAST(length(text) AS DOUBLE)
             / nullif(len(regexp_extract_all(text,
                   '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 \t\n\x0B\f\r]')), 0), 4)
         AS chars_per_token
FROM documents
""")
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for training-budget estimation: whitespace
    tokens next to a BPE-ish regex segmentation (letter runs, single
    digits, single punctuation — the GPT-2 pre-tokenizer shape
    reduced to an engine-portable regex) and the chars-per-token
    ratio. Pure JVM regexp_extract_all — narrow, no shuffle, scales
    as one scan.

    Zero-token docs (empty / whitespace-only text) yield NULL
    chars_per_token via a NULL-guarded DIVISOR on both sides (the
    theilsen pattern): an unguarded x/0 is an ANSI DIVIDE_BY_ZERO
    error in Spark but inf/nan in DuckDB — found by the r9
    randomized-data sweep (the fixtures have no empty docs).

    Letter runs match CASE-INSENSITIVE CLASSES (``[a-zA-Z]+``) on the
    RAW text instead of ``[a-z]+`` over ``lower(text)`` — count-
    equivalent on ASCII input (and any input whose lower() is
    length-preserving; length-CHANGING case maps like Turkish 'İ'
    are exactly why lower() is avoided: it drags in the engines'
    full-vs-simple Unicode case-mapping split, 'İ' becoming two
    codepoints in Spark/JDK vs one in DuckDB/utf8proc) — r9
    unicode-lane randomized sweep.

    Whitespace is spelled EXPLICITLY (``[ \\t\\n\\x0B\\f\\r]``)
    rather than ``\\s``: Java's ``\\s`` includes vertical tab U+000B
    but RE2's does not, and U+000B is ASCII so even the pure-ASCII
    corpus contract wouldn't exclude the divergence — r10 advisor
    catch."""
    docs = table(spark, "documents", sf_dir)
    ws = "[ \t\n\x0B\f\r]"
    bpe = F.size(F.regexp_extract_all(
        F.col("text"),
        F.lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 \t\n\x0B\f\r]"),
        F.lit(0)))
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), ws + "+")).alias("n_ws_tokens"),
        bpe.cast("long").alias("n_bpe_tokens"),
        F.round(F.length("text").cast("double")
                / F.when(bpe != 0, bpe), 4)
        .alias("chars_per_token"))


@query("image_thumbnails", oracle=_MEDIA_RAW_CTE + """
SELECT CAST(count(*) AS BIGINT) AS n,
       16 AS thumb_w, 16 AS thumb_h,
       round(avg(13 + 16 * 16 * 3), 4) AS avg_bytes,
       round(avg(ascii(substr(raw, 1, 1))), 4) AS avg_first_r
FROM media_raw WHERE doc_id % 3 = 0
""")
def q_image_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize: every image row's PPM is decoded, resampled
    to a 16×16 nearest-neighbour thumbnail (numpy grid selection —
    operators/multimodal.py:resize_images) and re-encoded as PPM. The
    oracle pins actual pixel MOVEMENT, not just plumbing: thumbnail
    pixel (0,0) maps to source pixel (0,0), whose red byte is the
    first char of the md5-derived raw source — so avg(first thumbnail
    body byte) must equal avg(ascii(first raw char)) across the
    corpus. Payload sizes are fixed by the PPM format (13-byte header
    + 16·16·3 pixels). The PPM body is pure-ASCII md5 hex by
    construction (_MEDIA_RAW_CTE), so decoding it as UTF-8 and
    matching ascii() is sound on ANY corpus — the r10 text-derived
    payloads made this query ASCII-contract-only."""
    from map_reduce_mongodb_spark.operators.multimodal import (
        media_from_documents, resize_images)
    thumbs = resize_images(
        media_from_documents(table(spark, "documents", sf_dir)))
    first_r = F.ascii(F.substring(F.decode(F.col("data"), "UTF-8"), 14, 1))
    return thumbs.agg(
        F.count(F.lit(1)).alias("n"),
        F.first("width").alias("thumb_w"),
        F.first("height").alias("thumb_h"),
        F.round(F.avg(F.length("data")), 4).alias("avg_bytes"),
        F.round(F.avg(first_r), 4).alias("avg_first_r"))


@query("audio_features", oracle=_MEDIA_RAW_CTE + """,
a AS (
  SELECT doc_id, raw, n FROM media_raw
  WHERE doc_id % 3 = 1),
b AS (
  SELECT doc_id, raw, n - (n % (2 * (1 + n % 2))) AS dsize FROM a),
s AS (
  SELECT doc_id,
         ascii(substr(raw, CAST(2 * i - 1 AS INTEGER), 1))
           + 256 * ascii(substr(raw, CAST(2 * i AS INTEGER), 1)) AS v
  FROM (SELECT doc_id, raw,
               unnest(generate_series(1, dsize // 2)) AS i
        FROM b))
SELECT doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(max(v) AS BIGINT) AS peak,
       floor(avg(v) * 10000 + 0.5) / 10000 AS mean_amp,
       floor(sqrt(avg(CAST(v AS DOUBLE) * v)) * 10000 + 0.5) / 10000
         AS rms
FROM s GROUP BY doc_id
""")
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio DSP: int16 PCM samples decoded from each audio row's
    WAV payload (stdlib wave), per-clip peak / mean amplitude / RMS
    energy via numpy (operators/multimodal.py:audio_features). The
    oracle re-derives every sample arithmetically — each sample is a
    little-endian pair of md5-hex bytes (_MEDIA_RAW_CTE), so DuckDB
    reconstructs the exact waveform from ascii() and must agree on
    all three statistics (integer sums are exact in both engines;
    doubles derive from the same exact integers). The unsigned
    byte-pair reconstruction (lo + 256·hi) equals the signed
    little-endian int16 the WAV decoder produces because md5 hex
    chars always have the high bit clear — by construction now, for
    ANY corpus (the r10 text-derived payloads needed the pure-ASCII
    corpus contract for this)."""
    from map_reduce_mongodb_spark.operators.multimodal import (
        audio_features, media_from_documents)
    return audio_features(
        media_from_documents(table(spark, "documents", sf_dir))
    ).select(F.col("media_id"), "n_samples", "peak", "mean_amp", "rms")


@query("orders_rfm", oracle="""
WITH rfm AS (
  SELECT o_custkey AS custkey,
         CAST(date_diff('day', max(o_orderdate),
                        TIMESTAMP '2002-01-01') AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
           / 100.0 AS monetary
  FROM orders GROUP BY o_custkey)
SELECT custkey, recency_days, frequency, monetary,
       CAST(ntile(5) OVER (ORDER BY monetary DESC, custkey) AS BIGINT)
         AS value_quintile
FROM rfm
""")
def q_orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency (days from last order to
    the fixed analysis date), frequency (order count), monetary
    (lifetime spend), and the spend quintile. One hash aggregate keyed
    by customer; the quintile is NOT a global ntile window (which
    Spark plans as a SinglePartition sort over every customer —
    VERDICT r4 #5): the global rank comes from
    :func:`operators.prefix.distributed_cumsum` of 1s over the
    (monetary DESC, custkey) total order, and ntile(5)'s exact bucket
    arithmetic — first n%5 buckets get ceil(n/5) rows, the rest
    floor(n/5) — is then a per-row integer expression against the
    broadcast customer count. monetary is an EXACT integer-cents sum
    divided once at the end (round(sum(double), 2) let a cent-level
    accumulation difference elsewhere in the order shift every later
    rank by one at sf0.1, swapping boundary customers' quintiles);
    the (monetary DESC, custkey) order is therefore bit-deterministic
    across engines, and integer `div` keeps the ceil exact at any
    row count."""
    from map_reduce_mongodb_spark.operators.prefix import (
        distributed_cumsum)
    o = table(spark, "orders", sf_dir)
    rfm = (o.groupBy(F.col("o_custkey").alias("custkey"))
           .agg(F.datediff(F.lit("2002-01-01").cast("timestamp"),
                           F.max("o_orderdate")).cast("long")
                .alias("recency_days"),
                F.count(F.lit(1)).alias("frequency"),
                F.expr("CAST(sum(CAST(round(o_totalprice * 100) AS "
                       "BIGINT)) AS DOUBLE) / 100.0").alias("monetary")))
    tot = rfm.agg(F.count(F.lit(1)).alias("_n"))
    ranked = (distributed_cumsum(
                  rfm, [F.desc("monetary"), F.asc("custkey")],
                  F.lit(1).cast("long"), "_rnk")
              .crossJoin(F.broadcast(tot))
              .withColumn("_q", F.expr("_n div 5"))
              .withColumn("_r", F.expr("_n % 5")))
    quint = F.expr(
        "CASE WHEN _rnk <= _r * (_q + 1) "
        "THEN (_rnk + _q) div (_q + 1) "
        "ELSE _r + (_rnk - _r * (_q + 1) + _q - 1) div _q END")
    return ranked.select(
        "custkey", "recency_days", "frequency", "monetary",
        quint.cast("long").alias("value_quintile"))


@query("events_anomaly_zscore", oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(count(*) AS DOUBLE) AS cnt
  FROM events GROUP BY 1, 2),
m AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         sum(cnt) AS s,
         sum(cnt * cnt) AS ss
  FROM hourly GROUP BY event_type)
SELECT event_type, hour, CAST(cnt AS BIGINT) AS n_events,
       round((cnt - s / n)
             / sqrt((ss - s * s / n) / (n - 1.0)), 4) AS z
FROM hourly JOIN m USING (event_type)
WHERE n > 1.0 AND (ss - s * s / n) / (n - 1.0) > 0.0
""")
def q_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly scoring: per-event-type z-score of each
    hour's event count against that type's hourly distribution — the
    monitoring shape behind traffic-spike/outage detection. Two
    aggregations (hourly counts, then per-type moments joined back via
    broadcast — |event_types| rows); the variance is computed from
    EXPLICIT integer-exact moments (n, Σc, Σc²) with the same
    expression structure in both engines rather than builtin
    stddev_samp, so the doubles are bit-identical and the z-scores
    hash-check. Degenerate groups (one hour, zero variance) are
    excluded by exact-zero tests on integer-derived doubles."""
    events = table(spark, "events", sf_dir)
    hourly = (events
              .groupBy("event_type",
                       F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.count(F.lit(1)).cast("double").alias("cnt")))
    m = (hourly.groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("double").alias("n"),
              F.sum("cnt").alias("s"),
              F.sum(F.col("cnt") * F.col("cnt")).alias("ss")))
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) \
        / (F.col("n") - 1.0)
    return (hourly.join(F.broadcast(m), "event_type")
            .filter((F.col("n") > 1.0) & (var > 0.0))
            .select("event_type", "hour",
                    F.col("cnt").cast("long").alias("n_events"),
                    F.round((F.col("cnt") - F.col("s") / F.col("n"))
                            / F.sqrt(var), 4).alias("z")))


@query("event_transitions", oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(count(*) AS BIGINT) AS n
FROM ordered WHERE next_type IS NOT NULL
GROUP BY 1, 2
""")
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (first-order Markov counts): for
    each user's time-ordered stream, count (event → next event) pairs
    — the sequence-analytics shape behind funnels and session-path
    mining. One window (lead over user_id/ts, event_id tiebreak for
    determinism under equal timestamps) + one tiny aggregation; the
    shuffle is keyed by user_id and the output is O(|event_types|²)
    regardless of event volume."""
    events = table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (events
            .withColumn("next_type", F.lead("event_type").over(w))
            .filter(F.col("next_type").isNotNull())
            .groupBy(F.col("event_type").alias("from_type"),
                     F.col("next_type").alias("to_type"))
            .agg(F.count(F.lit(1)).alias("n")))


# =====================================================================
# Round-4b additions: distributed prefix-scan analytics, chunking,
# time-spine gap fill, semantic dedup clusters, graph centrality
# =====================================================================

@query("pareto_revenue_abc", oracle="""
WITH pr AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                       AS BIGINT)) AS BIGINT) AS rev_e4
  FROM lineitem GROUP BY l_partkey),
tot AS (SELECT CAST(sum(rev_e4) AS BIGINT) AS tot_e4 FROM pr),
cum AS (
  SELECT l_partkey, rev_e4,
         CAST(sum(rev_e4) OVER (
             ORDER BY rev_e4 DESC, l_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_e4
  FROM pr)
SELECT c.l_partkey,
       c.rev_e4 / 10000.0 AS revenue,
       c.cum_e4 / t.tot_e4 AS cum_share,
       CASE WHEN c.cum_e4 * 100 <= t.tot_e4 * 80 THEN 'A'
            WHEN c.cum_e4 * 100 <= t.tot_e4 * 95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM cum c, tot t
""")
def q_pareto_revenue_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC revenue analysis: rank parts by revenue, compute
    each part's GLOBAL cumulative revenue share, classify A (first
    80% of revenue), B (next 15%), C (tail) — the inventory-analytics
    shape that needs a full-table running total. The running total is
    the interesting part at scale: a bare ``SUM OVER (ORDER BY ...)``
    window plans as a SINGLE-PARTITION sort in Spark, so this uses
    :func:`operators.prefix.distributed_cumsum` — range-partitioned
    within-partition scans plus a broadcast per-partition offset table
    (two-pass distributed prefix sum; see the module docstring).
    Hash-robustness: per-line revenue is integerized to exact 1e-4
    units BEFORE summation (row-local double arithmetic is
    bit-identical across engines; integer sums are order-independent),
    so the cumulative totals and the A/B/C boundary comparisons
    (``cum*100 <= tot*80``, integer math) are exact in both engines —
    no float boundary can flip a class. At very large SF move the
    e4-scaled math to DECIMAL(38) to keep ``tot_e4 * 100`` in range."""
    from map_reduce_mongodb_spark.operators.prefix import distributed_cumsum
    li = table(spark, "lineitem", sf_dir)
    rev = (li.groupBy("l_partkey")
             .agg(F.sum(F.round(F.col("l_extendedprice")
                                * (1 - F.col("l_discount")) * 10000)
                        .cast("long")).alias("rev_e4")))
    cum = distributed_cumsum(
        rev, [F.col("rev_e4").desc(), F.col("l_partkey").asc()],
        F.col("rev_e4"), "cum_e4")
    tot = rev.agg(F.sum("rev_e4").alias("tot_e4"))
    return (cum.crossJoin(F.broadcast(tot))
            .select("l_partkey",
                    (F.col("rev_e4") / 10000.0).alias("revenue"),
                    (F.col("cum_e4") / F.col("tot_e4"))
                     .alias("cum_share"),
                    F.when(F.col("cum_e4") * 100 <= F.col("tot_e4") * 80,
                           "A")
                     .when(F.col("cum_e4") * 100 <= F.col("tot_e4") * 95,
                           "B")
                     .otherwise("C").alias("abc_class")))


@query("doc_chunking", oracle="""
SELECT doc_id,
       CAST((off - 1) // 150 AS INT) AS chunk_idx,
       CAST(off AS INT) AS chunk_off,
       CAST(length(substring(text, CAST(off AS INT), 200)) AS INT)
         AS chunk_len,
       md5(substring(text, CAST(off AS INT), 200)) AS chunk_md5
FROM (SELECT doc_id, text,
             unnest(generate_series(1, length(text), 150)) AS off
      FROM documents WHERE length(text) > 0)
""")
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split every document into overlapping
    fixed-size chunks (size 200 chars, stride 150 → 50-char overlap) —
    the preprocessing step that turns raw documents into
    training-window-sized pieces. Pure narrow plan: ``sequence`` +
    ``explode`` + ``substr`` generate chunks WITHOUT any shuffle or
    Python — at 100 TB this pipelines through the scan at parquet
    read speed and parallelism follows input splits. Chunks are
    emitted as (offset, length, md5) rather than raw text so the
    result stays hash-comparable and compact; empty documents are
    filtered on both sides (Spark's ``sequence(1, 0)`` throws where
    DuckDB's returns empty). ASCII corpus ⇒ char offsets == byte
    offsets in both engines (guarded by test_corpus_is_pure_ascii)."""
    docs = table(spark, "documents", sf_dir).where(F.length("text") > 0)
    offs = docs.select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(1), F.length("text"),
                             F.lit(150))).alias("off"))
    chunk = F.col("text").substr(F.col("off"), F.lit(200))
    return offs.select(
        "doc_id",
        F.floor((F.col("off") - 1) / 150).cast("int").alias("chunk_idx"),
        F.col("off").cast("int").alias("chunk_off"),
        F.length(chunk).cast("int").alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"))


@query("events_gap_fill", oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0,
         date_trunc('hour', max(ts)) AS h1
  FROM events),
spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM bounds),
types AS (SELECT DISTINCT event_type FROM events)
SELECT t.event_type, s.hour,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_events
FROM types t CROSS JOIN spine s
LEFT JOIN hourly h ON h.event_type = t.event_type AND h.hour = s.hour
""")
def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-spine gap filling: a dense (event_type × hour) grid over
    the corpus' full hour range with explicit ZERO rows where no
    events occurred — the step that turns sparse event counts into
    the regular series that downstream anomaly/forecast models need
    (a missing hour and a zero-count hour are different facts). The
    spine is generated, not scanned: global min/max bounds (one tiny
    agg) → ``sequence``-exploded hour spine × distinct types. The
    grid is O(|types| · hours) regardless of event volume, so the
    left join against the aggregated hourly counts broadcasts the
    grid side at any data scale; the only full-data pass is the
    hourly pre-aggregation (map-side partial)."""
    events = table(spark, "events", sf_dir)
    hourly = (events
              .groupBy("event_type",
                       F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.count(F.lit(1)).alias("n")))
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1",
                             F.expr("interval 1 hour"))).alias("hour"))
    grid = events.select("event_type").distinct().crossJoin(
        F.broadcast(spine))
    return (grid.join(hourly, ["event_type", "hour"], "left")
            .select("event_type", "hour",
                    F.coalesce(F.col("n"), F.lit(0)).alias("n_events")))


def _embedding_pairs_04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-0.4 exact-verified embedding near-dup pair table —
    shared upstream of ``embedding_dup_pairs`` (the listing) and
    ``semantic_dedup_clusters`` (the transitive closure). Materialized
    once per process via :func:`cache.shared_parquet` — at 100 TB the
    verified pair table is the artifact written once and read by every
    downstream consumer; the blocked-GEMM candidate pass must not
    re-run per consumer."""
    from map_reduce_mongodb_spark.cache import shared_parquet

    def build() -> DataFrame:
        from map_reduce_mongodb_spark.operators.similarity import (
            embedding_dup_pairs)
        return embedding_dup_pairs(table(spark, "embeddings", sf_dir),
                                   threshold=0.4)

    return shared_parquet(spark, f"emb_pairs_0.4_{sf_dir}", build)


def _emb_cc_oracle(dim: int = 64, threshold: float = 0.4) -> str:
    """Recursive-CTE oracle: connected components of the exact
    all-pairs cosine>=threshold graph (mirrors _embedding_dup_oracle's
    pair semantics, then the _CC_CTE closure shape)."""
    from map_reduce_mongodb_spark.functions.vectors import (
        dot_unrolled_sql, norm_sq_unrolled_sql)
    nsq = norm_sq_unrolled_sql("embedding", dim)
    dot = dot_unrolled_sql("a.vn", "b.vn", dim)
    return f"""
WITH RECURSIVE v AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(x AS DOUBLE) / sqrt({nsq})) AS vn
  FROM embeddings),
p AS (
  SELECT id_a, id_b FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({dot}, 6) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id)
  WHERE cosine >= {threshold}),
edges AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
cc AS (SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT c.vec_id, c.cluster_id, s.cluster_size
FROM cc c JOIN (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
                FROM cc GROUP BY cluster_id) s USING (cluster_id)
"""


def _semantic_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(id, cc)`` connected-component labels of the 0.4-cosine
    embedding pair graph — shared upstream of
    ``semantic_dedup_clusters`` and ``semantic_dedup_survivors``
    (mirror of `_cc_labels` for the lexical graph; same
    materialize-once rationale)."""
    from map_reduce_mongodb_spark.cache import shared_parquet

    def build() -> DataFrame:
        from map_reduce_mongodb_spark.operators.graph import (
            connected_components)
        pairs = _embedding_pairs_04(spark, sf_dir)
        return connected_components(pairs, src="id_a", dst="id_b")

    return shared_parquet(spark, f"emb_cc_labels_0.4_{sf_dir}", build)


@query("semantic_dedup_clusters", oracle=_emb_cc_oracle())
def q_semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end: embedding-cosine near-dup pairs
    (blocked-GEMM candidates + exact verify, threshold 0.4) →
    connected components → cluster assignment (vec_id, cluster_id =
    component-min vec, cluster_size). The vector-space twin of
    ``dedup_clusters``: where that one clusters lexical (Jaccard)
    duplicates, this clusters documents that SAY the same thing in
    different words — the dedup mode that actually moves the needle
    on model quality at pretraining scale. Reads the
    once-materialized pair table (`_embedding_pairs_04`); components
    via the same Kiveris large-star/small-star rounds; the oracle
    re-derives everything from exact all-pairs cosine + a recursive
    transitive-closure CTE. Labels come from the once-materialized
    `_semantic_cc_labels` (shared with `semantic_dedup_survivors`)."""
    from map_reduce_mongodb_spark.operators.graph import (
        cluster_assignments)
    return cluster_assignments(_semantic_cc_labels(spark, sf_dir),
                               id_out="vec_id")


def _emb_survivors_oracle(dim: int = 64, threshold: float = 0.4) -> str:
    """Keep-one-per-semantic-cluster accounting, re-derived from the
    exact all-pairs closure (prefix = _emb_cc_oracle's CTE chain)."""
    chain = _emb_cc_oracle(dim, threshold)
    chain = chain[:chain.index("SELECT c.vec_id")]
    return chain + """
SELECT e.label,
       CAST(count(*) AS BIGINT) AS n_kept
FROM embeddings e
WHERE e.vec_id NOT IN (SELECT vec_id FROM cc WHERE vec_id <> cluster_id)
GROUP BY e.label
"""


@query("semantic_dedup_survivors", oracle=_emb_survivors_oracle())
def q_semantic_dedup_survivors(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """The APPLIED form of semantic dedup: drop every semantic-cluster
    member except the canonical minimum and account for what survives
    per label — the vector-space twin of `dedup_survivors` (what a
    training run would actually consume after near-meaning dedup).
    Non-canonical members anti-join out of the embedding table
    (un-hinted — the drop list scales with the corpus, so the planner
    broadcasts it at graded SFs and shuffles at 100 TB); reads the
    once-materialized component labels
    (`_semantic_cc_labels`), so the pair join + CC never re-run per
    consumer."""
    emb = table(spark, "embeddings", sf_dir)
    labels = _semantic_cc_labels(spark, sf_dir)
    removed = (labels.where(F.col("id") != F.col("cc"))
               .select(F.col("id").alias("vec_id")))
    return (emb.join(removed, "vec_id", "left_anti")
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_kept")))


def _pagerank_oracle(iters: int = 5) -> str:
    """Unrolled fixed-iteration PageRank over the _CC_CTE edge set
    (DuckDB disallows aggregates inside a recursive CTE member, so the
    power iteration unrolls to one chained CTE per step; the graph is
    symmetric, so every node has in-edges and each step's aggregate
    covers all nodes)."""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
pr{k} AS (
  SELECT e.dst AS id, 0.15 / nn.n + 0.85 * sum(p.r / d.d) AS r
  FROM edges e
  JOIN pr{k - 1} p ON e.src = p.id
  JOIN deg d ON d.src = e.src
  CROSS JOIN nn
  GROUP BY e.dst, nn.n)""")
    return _CC_CTE + f"""
, deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d
          FROM edges GROUP BY src),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
pr0 AS (SELECT src AS id, 1.0 / nn.n AS r FROM deg CROSS JOIN nn),
{','.join(steps)}
SELECT id AS doc_id, round(r, 6) AS pagerank FROM pr{iters}
"""


@query("dup_graph_pagerank", oracle=_pagerank_oracle())
def q_dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality (damping 0.85, 5 fixed power iterations)
    over the near-dup pair graph — scores which documents sit at the
    CENTER of duplication neighbourhoods (template/boilerplate hubs
    score high; the complement of the pairwise view: pairs say "these
    two match", centrality says "this one matches everything"). Each
    iteration is one join (attach current ranks to the edge list) +
    one keyed aggregation (sum of rank/degree into each target) — the
    standard shuffle-based power iteration, O(edges) per step with NO
    driver-side state; lineage is cut per step with localCheckpoint
    exactly like operators/graph.py. The node-count normalizer joins
    in as a broadcast scalar (no .count() on the driver). Symmetric
    dedup graphs have no dangling nodes (every node has degree ≥ 1),
    so no dangling-mass redistribution term is needed. Reads the
    once-materialized 0.7-Jaccard pair table (`_jaccard_pairs_07`);
    the oracle unrolls the same 5 iterations as chained CTEs. Scores
    round to 6dp — engine float divergence after 5 iterations is
    ~1e-13, six orders below the rounding quantum."""
    from map_reduce_mongodb_spark.cache import tracked_persist
    pairs = _jaccard_pairs_07(spark, sf_dir).select("id_a", "id_b")
    sym = symmetrize(pairs)
    deg = sym.groupBy("id_a").agg(
        F.count(F.lit(1)).cast("double").alias("deg"))
    nodes = deg.select(F.col("id_a").alias("id"))
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n_nodes"))
    # the loop-invariant inputs are persisted ONCE — without this,
    # every iteration's job re-reads the pair table and re-derives
    # degrees (measured 7.3 s → ~2 s at sf0.1)
    base = tracked_persist(
        nodes.crossJoin(F.broadcast(nn))
        .select("id", (F.lit(0.15) / F.col("n_nodes")).alias("base"),
                (F.lit(1.0) / F.col("n_nodes")).alias("r0")))
    edges_deg = tracked_persist(sym.join(deg, "id_a"))
    ranks = base.select("id", F.col("r0").alias("r"))
    # graph.py's checkpoint discipline: each round's leaf replaces
    # the previous round's, the final round's stays registered until
    # the next query builds
    for _ in range(5):
        contrib = (edges_deg
                   .join(ranks.withColumnRenamed("id", "id_a"), "id_a")
                   .groupBy(F.col("id_b").alias("id"))
                   .agg(F.sum(F.col("r") / F.col("deg"))
                        .alias("contrib")))
        nxt = checkpoint_leaf(
            base.join(contrib, "id", "left")
            .select("id",
                    (F.col("base") + F.lit(0.85)
                     * F.coalesce("contrib", F.lit(0.0))).alias("r")))
        release_leaf(ranks)  # superseded iteration's blocks
        ranks = nxt
    return ranks.select(F.col("id").alias("doc_id"),
                        F.round("r", 6).alias("pagerank"))


@query("events_interarrival", oracle="""
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(sum(gap_us) AS DOUBLE) / count(*) / 1000000
         AS avg_gap_s,
       CAST(min(gap_us) AS BIGINT) AS min_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY user_id
""")
def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival statistics: microsecond-exact gaps
    between consecutive events (lag window, event_id tiebreak for
    determinism under equal timestamps) → count / mean / min / max per
    user — the session-cadence profile behind bot detection and
    engagement scoring. Hash-robust by construction: gaps are BIGINT
    microseconds (``unix_micros`` / ``epoch_us`` — identical integers
    in both engines), so sums are order-independent and the mean is
    the same exact-operand division chain in both engines, emitted
    UNROUNDED — a trailing round(x, 6) flipped a half-ulp boundary
    between the engines at sf0.1 (33374.0610425 → …43 vs …42), the
    known Spark/DuckDB round() divergence. One user_id-keyed shuffle
    for the window, map-side partial agg after."""
    from map_reduce_mongodb_spark.functions.scalar import epoch_us_ntz
    events = table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; epoch_us_ntz is a zone-free
    # calendar diff — exactly DuckDB's epoch_us() on a naive
    # timestamp in ANY session timezone (ADVICE r7: the previous
    # NTZ→LTZ cast consulted session.timeZone, so a gap straddling a
    # DST transition shifted in a bare non-UTC session).
    us = epoch_us_ntz(F.col("ts"))
    gaps = (events
            .withColumn("gap_us", us - F.lag(us).over(w))
            .where(F.col("gap_us").isNotNull()))
    return (gaps.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_gaps"),
                 (F.sum("gap_us").cast("double")
                  / F.count(F.lit(1)) / F.lit(1000000.0))
                 .alias("avg_gap_s"),
                 F.min("gap_us").alias("min_gap_us"),
                 F.max("gap_us").alias("max_gap_us")))


def _containment_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, distinct 3-gram shingle set) over documents — the
    extraction both containment configurations (production 0.8
    uncapped + the df-capped candidate pass) score over, materialized
    ONCE per process (cache.shared_parquet): at 100 TB the shingle
    table is written to storage once and every consumer reads it,
    exactly the winnow/minhash/CF-matrix treatment (VERDICT r7 #2
    pattern)."""
    from map_reduce_mongodb_spark.cache import shared_parquet
    from map_reduce_mongodb_spark.functions.text import word_shingles

    def build() -> DataFrame:
        return (table(spark, "documents", sf_dir)
                .select("doc_id",
                        word_shingles(F.col("text"), 3).alias("sh"))
                .filter(F.size("sh") > 0))

    return shared_parquet(spark, f"containment_sh3_{sf_dir}", build)




@query("containment_pairs", oracle=r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(w) - 2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w
        FROM documents)
  WHERE len(w) >= 3),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s)) AS i,
         len(a.s) AS sa, len(b.s) AS sb
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
dir AS (
  SELECT id_a AS contained_id, id_b AS container_id,
         round(CAST(i AS DOUBLE) / sa, 6) AS containment FROM inter
  UNION ALL
  SELECT id_b, id_a, round(CAST(i AS DOUBLE) / sb, 6) FROM inter)
SELECT * FROM dir WHERE containment >= 0.8
""")
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excerpt / quote / boilerplate-inclusion detection: DIRECTIONAL
    shingle containment c(A→B) = |A∩B|/|A| ≥ 0.8 — the dedup family
    member symmetric Jaccard structurally misses (a short quote inside
    a long page has J ≈ 0.01 but containment 1.0; contamination checks
    and license-text stripping need exactly this asymmetry). Inverted-
    index posting join (never array intersections per pair); see
    operators/dedup.py:containment_pairs for the stop-shingle df-cap
    that bounds skew at corpus scale. Oracle: exact all-pairs set
    intersection, both directions from one intersection count.
    The shingle-set table is built ONCE and shared with the df-capped
    twin (`_containment_base`) — both configurations scan the same
    materialized extraction, not the corpus twice."""
    from map_reduce_mongodb_spark.operators.dedup import containment_pairs
    return containment_pairs(table(spark, "documents", sf_dir),
                             threshold=0.8, shingle_n=3,
                             base=_containment_base(spark, sf_dir))


@query("containment_pairs_capped", oracle=r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(w) - 2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w
        FROM documents)
  WHERE len(w) >= 3),
tok AS (SELECT doc_id, g FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
hot AS (SELECT g FROM tok GROUP BY g HAVING count(*) > 3),
tokc AS (SELECT t.doc_id, t.g FROM tok t ANTI JOIN hot h ON t.g = h.g),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS i
  FROM tokc a JOIN tokc b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
sz AS (SELECT doc_id, len(s) AS sz FROM sh),
dir AS (
  SELECT id_a AS contained_id, id_b AS container_id,
         round(CAST(i AS DOUBLE) / sa.sz, 6) AS containment
  FROM inter JOIN sz sa ON inter.id_a = sa.doc_id
  UNION ALL
  SELECT id_b, id_a, round(CAST(i AS DOUBLE) / sb.sz, 6)
  FROM inter JOIN sz sb ON inter.id_b = sb.doc_id)
SELECT * FROM dir WHERE containment >= 0.5
""")
def q_containment_pairs_capped(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """`containment_pairs` with the 100 TB skew dial ON
    (VERDICT r7 #7 — the last documented-but-not-oracle-proven dial):
    ``max_shingle_df=3`` drops postings for shingles appearing in >3
    docs BEFORE the inverted-index join (a shingle shared by half the
    corpus identifies nothing and quadratically dominates the posting
    join), run at threshold 0.5 — BELOW the production 0.8 — per the
    operator's documented superset-safe convention: df-capped
    intersections can only LOWER a containment score (sizes stay
    exact, from the uncapped shingle sets), so capped-at-lower-
    threshold is a recall-safe candidate filter for an exact verify
    pass. The oracle encodes the IDENTICAL df-cap (HAVING count(*)>3
    anti-join) and exact uncapped sizes, so the dial's exact output
    contract has its own hash row, mirroring
    `supplier_cf_similarity_capped`. max_shingle_df=3 is deliberately
    below the corpus's max shingle df (7 at sf0.01) so the cap
    provably bites at test scale (44 rows vs the uncapped 50 at the
    same threshold); production would size it to the df knee. An
    absolute df cap is corpus-relative by nature: at sf0.1 the dup
    clusters are ~20 docs deep, so every shared shingle exceeds df 3
    and the capped result is (hash-verified) EMPTY — the demonstration
    that an untuned stop-shingle cap degrades recall-first, never
    precision (the superset-safety claim, observed end-to-end)."""
    from map_reduce_mongodb_spark.operators.dedup import containment_pairs
    return containment_pairs(table(spark, "documents", sf_dir),
                             threshold=0.5, shingle_n=3,
                             max_shingle_df=3,
                             base=_containment_base(spark, sf_dir))


@query("lineitem_yoy_growth", oracle="""
WITH m AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                       AS BIGINT)) AS BIGINT) AS rev_e4
  FROM lineitem GROUP BY 1)
SELECT month,
       rev_e4 / 10000.0 AS revenue,
       (rev_e4 - lag(rev_e4, 12) OVER (ORDER BY month))
         / lag(rev_e4, 12) OVER (ORDER BY month) * 100 AS yoy_pct
FROM m
""")
def q_lineitem_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per ship month: monthly revenue
    (integerized to exact 1e-4 units before summation — order-
    independent) and the percentage delta against the same month one
    year earlier (lag 12 over the month series). The window is global-
    ordered but runs over the AGGREGATED month table — O(months) rows
    regardless of fact volume, so the single-partition window is over
    ~dozens of rows, not the data (the full-data stage is one map-side
    partial agg). NULL yoy for the first year, by definition."""
    li = table(spark, "lineitem", sf_dir)
    m = (li.groupBy(F.date_trunc("month", "l_shipdate")
                    .cast("timestamp_ntz").alias("month"))
         .agg(F.sum(F.round(F.col("l_extendedprice")
                            * (1 - F.col("l_discount")) * 10000)
                    .cast("long")).alias("rev_e4")))
    prev = F.lag("rev_e4", 12).over(Window.orderBy("month"))
    return m.select(
        "month",
        (F.col("rev_e4") / 10000.0).alias("revenue"),
        ((F.col("rev_e4") - prev) / prev * 100).alias("yoy_pct"))


@query("window_rank_functions", oracle="""
SELECT o_orderkey, o_orderpriority,
       rank()         OVER wt AS rnk,
       dense_rank()   OVER wt AS drnk,
       round(percent_rank() OVER wt, 6) AS pct_rank,
       round(cume_dist()    OVER wt, 6) AS cdist,
       row_number()   OVER wu AS rn,
       ntile(4)       OVER wu AS quartile,
       first_value(o_orderkey) OVER wu AS cheapest_key,
       lag(o_orderkey)  OVER wu AS prev_key,
       lead(o_orderkey) OVER wu AS next_key
FROM orders
WINDOW wt AS (PARTITION BY o_orderpriority ORDER BY o_orderdate),
       wu AS (PARTITION BY o_orderpriority
              ORDER BY o_totalprice, o_orderkey)
""")
def q_window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function surface sweep: rank / dense_rank /
    percent_rank / cume_dist over a TIED ordering (order dates repeat,
    so gap-vs-dense semantics and the tie-group numerators actually
    differ), and row_number / ntile / first_value / lag / lead over a
    UNIQUE total order (price + key tiebreak — required, or those five
    are nondeterministic under ties). Two window specs, one pass, one
    shuffle per spec key; all eleven outputs are integers or exactly-
    derived ratios, so the sweep hash-checks without tolerance.
    Scale note: o_orderpriority has only 5 values, so each window
    partition is ~20% of the table on one task — fine for this
    surface-parity query, but a production global ranking over a
    low-cardinality key should use the two-pass range-partitioned
    scan family (operators/prefix.py) or rank within finer composite
    keys."""
    o = table(spark, "orders", sf_dir)
    wt = Window.partitionBy("o_orderpriority").orderBy("o_orderdate")
    wu = (Window.partitionBy("o_orderpriority")
          .orderBy("o_totalprice", "o_orderkey"))
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.rank().over(wt).alias("rnk"),
        F.dense_rank().over(wt).alias("drnk"),
        F.round(F.percent_rank().over(wt), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(wt), 6).alias("cdist"),
        F.row_number().over(wu).alias("rn"),
        F.ntile(4).over(wu).alias("quartile"),
        F.first("o_orderkey").over(wu).alias("cheapest_key"),
        F.lag("o_orderkey").over(wu).alias("prev_key"),
        F.lead("o_orderkey").over(wu).alias("next_key"))


@query("skyline_parts", oracle="""
SELECT p_partkey, p_retailprice, p_size FROM (
  SELECT p_partkey, p_retailprice, p_size,
         max(p_size) OVER (
             ORDER BY p_retailprice, p_size DESC, p_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best
  FROM part)
WHERE best IS NULL OR p_size > best
""")
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-front query: the parts not dominated on
    (price↓, size↑) — every part for which no cheaper-or-equal part
    is at least as large (the "best value at each size point" set
    behind product-recommendation and cost-frontier analyses). The
    2-D skyline reduces to one EXCLUSIVE global prefix maximum over
    the price-sorted order (a row survives iff it is strictly larger
    than everything before it), which Spark would plan as a single-
    partition window — so this runs on
    :func:`operators.prefix.distributed_cummax_exclusive`, the
    range-partitioned two-pass scan (same decomposition as the cumsum
    behind pareto_revenue_abc; max is associative). Equal-price
    groups order size-DESC so weak dominance within a price point is
    handled; all compared values are per-row-exact (int size, raw
    double price), so the survivor SET is engine-exact."""
    from map_reduce_mongodb_spark.operators.prefix import (
        distributed_cummax_exclusive)
    p = table(spark, "part", sf_dir).select(
        "p_partkey", "p_retailprice", "p_size")
    s = distributed_cummax_exclusive(
        p, [F.col("p_retailprice").asc(), F.col("p_size").desc(),
            F.col("p_partkey").asc()],
        F.col("p_size"), "best")
    return (s.where(F.col("best").isNull()
                    | (F.col("p_size") > F.col("best")))
            .select("p_partkey", "p_retailprice", "p_size"))


@query("bigram_lm_logprob", oracle=r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS ws
  FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i])) AS w1,
         unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i + 1])) AS w2
  FROM w WHERE len(ws) >= 2),
c2 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c FROM bg GROUP BY 1),
vocab AS (
  SELECT CAST(count(DISTINCT word) AS DOUBLE) AS v
  FROM (SELECT unnest(ws) AS word FROM w)),
scored AS (
  SELECT bg.doc_id, ln((c2.c + 1) / (c1.c + vocab.v)) AS lp
  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab)
SELECT doc_id,
       count(*) AS n_bigrams,
       round(-avg(lp), 6) AS avg_neg_logprob
FROM scored
GROUP BY doc_id
""")
def q_bigram_lm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with add-one smoothing: per-doc
    mean negative log P(w₂|w₁) under the corpus's own bigram counts —
    one step up from `unigram_logprob` on the LM-quality-filter
    ladder (catches word-salad documents whose unigram profile looks
    normal). One bigram explode feeds the transition counts c(w₁,w₂),
    the context counts c(w₁), and the scoring join; the vocabulary
    size (smoothing denominator) attaches as a broadcast scalar. The
    joins are keyed by bigram/context — at corpus scale the LM tables
    shuffle-join (or broadcast, if a pruned LM fits), never collect."""
    from map_reduce_mongodb_spark.cache import tracked_persist
    from map_reduce_mongodb_spark.functions.text import (
        word_shingles, words)
    docs = table(spark, "documents", sf_dir)
    allw = docs.select("doc_id", F.explode(words(F.col("text")))
                       .alias("word"))
    vocab = allw.agg(
        F.countDistinct("word").cast("double").alias("v"))
    bg = tracked_persist(
        docs.select("doc_id",
                    F.explode(word_shingles(F.col("text"), 2,
                                            distinct=False)).alias("g"))
            .select("doc_id",
                    F.split_part(F.col("g"), F.lit(" "), F.lit(1))
                     .alias("w1"),
                    F.split_part(F.col("g"), F.lit(" "), F.lit(2))
                     .alias("w2")))
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    scored = (bg.join(c2, ["w1", "w2"]).join(c1, "w1")
              .crossJoin(F.broadcast(vocab))
              .select("doc_id",
                      F.log((F.col("c2") + 1)
                            / (F.col("c1") + F.col("v"))).alias("lp")))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(-F.avg("lp"), 6).alias("avg_neg_logprob")))


@query("scd2_customer_update", oracle="""
WITH dim AS (
  SELECT c_custkey, c_mktsegment,
         TIMESTAMP '1992-01-01 00:00:00' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to,
         1 AS version
  FROM customer),
upd AS (
  SELECT c_custkey, 'UPD_' || c_mktsegment AS new_seg,
         TIMESTAMP '1998-01-01 00:00:00' AS eff
  FROM customer WHERE c_custkey % 10 = 3)
SELECT d.c_custkey, d.c_mktsegment, d.valid_from,
       u.eff AS valid_to, d.version
FROM dim d LEFT JOIN upd u USING (c_custkey)
UNION ALL
SELECT c_custkey, new_seg, eff, CAST(NULL AS TIMESTAMP), 2
FROM upd
""")
def q_scd2_customer_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 merge (versioned upsert): a
    deterministic update batch (every custkey ≡ 3 mod 10 changes
    market segment, effective 1998-01-01) applied to the customer
    dimension — changed keys get their open row CLOSED (valid_to
    stamped) plus a NEW version-2 open row; unchanged keys pass
    through. This is MERGE INTO semantics expressed at the engine
    level; see operators/scd.py:scd2_apply for the one-join + union
    shape and the table-format production path. Output is the full
    versioned dimension, so the oracle checks close-out and append
    behaviour row-for-row."""
    from map_reduce_mongodb_spark.operators.scd import scd2_apply
    c = table(spark, "customer", sf_dir)
    dim = c.select(
        "c_custkey", "c_mktsegment",
        F.lit("1992-01-01").cast("timestamp_ntz").alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
        F.lit(1).alias("version"))
    updates = (c.where(F.col("c_custkey") % 10 == 3)
               .select("c_custkey",
                       F.concat(F.lit("UPD_"), F.col("c_mktsegment"))
                        .alias("c_mktsegment"),
                       F.lit("1998-01-01").cast("timestamp_ntz")
                        .alias("effective_ts")))
    return scd2_apply(dim, updates, "c_custkey", ["c_mktsegment"])


#: Relational reconstruction of the SCD2 replay's final dimension
#: (version chain with close-out stamps) — shared by the replay
#: oracle and its time-travel consumers.
_SCD2_DIM_CTE = """
WITH p AS (
  SELECT user_id, value, ts, event_id,
         CASE WHEN day(ts) <= 10 THEN 1
              WHEN day(ts) <= 20 THEN 2 ELSE 3 END AS b
  FROM events WHERE event_type = 'purchase'),
u AS (
  SELECT user_id, b, value, eff FROM (
    SELECT user_id, b, value, ts AS eff,
           row_number() OVER (PARTITION BY user_id, b
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM p) WHERE rn = 1),
seq AS (
  SELECT user_id, value, eff,
         row_number() OVER (PARTITION BY user_id ORDER BY b) AS k,
         lead(eff) OVER (PARTITION BY user_id ORDER BY b) AS nxt
  FROM u),
base AS (SELECT DISTINCT user_id FROM events),
fe AS (SELECT user_id, arg_min(eff, b) AS first_eff
       FROM u GROUP BY user_id),
dim AS (
  SELECT base.user_id, CAST(NULL AS DOUBLE) AS tier,
         TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
         fe.first_eff AS valid_to, 1 AS version
  FROM base LEFT JOIN fe ON base.user_id = fe.user_id
  UNION ALL
  SELECT user_id, value AS tier, eff AS valid_from, nxt AS valid_to,
         CAST(k + 1 AS INT) AS version
  FROM seq)
"""


@query("scd2_events_replay", oracle=_SCD2_DIM_CTE + """
SELECT user_id, tier, valid_from, valid_to, version FROM dim
""")
def q_scd2_events_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 upsert, end to end: the events table is treated
    as a CDC purchase stream, compacted to one update per user per
    10-day window (latest by ts with event_id tiebreak), and REPLAYED
    through Structured Streaming — one micro-batch per window via a
    mtime-ordered file source, each epoch's foreachBatch applying the
    scd2_apply MERGE to a dimension snapshot store
    (operators/scd.py:scd2_replay_stream). Output is the final
    versioned dimension; the oracle reconstructs the whole version
    chain relationally (lead() gives each version's close-out stamp),
    so a wrong merge in ANY epoch — missed close, double-apply, wrong
    version number — breaks the hash. Version 1's close-out is
    ``arg_min(eff, b)`` — the eff of the FIRST EPOCH that touches the
    user — NOT ``min(eff)``: the two coincide only while per-bucket
    effs are monotonic in bucket order (true for the single-month
    fixtures, where day-of-month bucketing tracks time; false for
    multi-month data, where a later month's day-5 purchase replays in
    epoch 1 with a later eff than epoch 2's) — r9 randomized-data
    sweep. Not SQL-expressible as a single
    query on the Spark side: this exercises the streaming engine; the
    oracle only has a closed form because the replay is deterministic.
    The replayed dimension is built once per process
    (cache.shared_parquet) — repeat callers read the materialization,
    matching how a streaming pipeline's consumers read its sink."""
    return _scd2_replay_dim(spark, sf_dir)


def _scd2_replay_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared materialized SCD2 replay dimension — the private
    helper consumers call DIRECTLY (the `_cc_labels` pattern).
    Consumers must NOT call through ``QUERIES["scd2_events_replay"]``:
    the registry wrapper runs ``release_caches()`` on entry, which
    would drop any tracked cache / kill any checkpoint the CALLING
    query built before the call (r9 review — latent while the call
    was the consumer's first statement)."""
    import atexit
    import shutil
    import tempfile

    from map_reduce_mongodb_spark.cache import shared_parquet
    from map_reduce_mongodb_spark.operators.scd import scd2_replay_stream

    def build() -> DataFrame:
        work = tempfile.mkdtemp(prefix="scd2_replay_")
        atexit.register(shutil.rmtree, work, ignore_errors=True)
        e = table(spark, "events", sf_dir)
        dim = (e.select("user_id").distinct()
               .select("user_id",
                       F.lit(None).cast("double").alias("tier"),
                       F.lit("2024-01-01").cast("timestamp_ntz")
                        .alias("valid_from"),
                       F.lit(None).cast("timestamp_ntz").alias("valid_to"),
                       F.lit(1).alias("version")))
        p = (e.where(F.col("event_type") == "purchase")
             .select("user_id", F.col("value").alias("tier"),
                     F.col("ts").cast("timestamp_ntz").alias("effective_ts"),
                     "event_id",
                     F.when(F.dayofmonth("ts") <= 10, 1)
                      .when(F.dayofmonth("ts") <= 20, 2)
                      .otherwise(3).alias("b")))
        w = Window.partitionBy("user_id", "b").orderBy(
            F.desc("effective_ts"), F.desc("event_id"))
        latest = (p.withColumn("rn", F.row_number().over(w))
                   .where(F.col("rn") == 1)
                   .select("user_id", "tier", "effective_ts", "b"))
        batches = [latest.where(F.col("b") == i).drop("b")
                   for i in (1, 2, 3)]
        return scd2_replay_stream(dim, batches, "user_id", ["tier"],
                                  work)

    return shared_parquet(spark, f"scd2_replay_{sf_dir}", build)


@query("market_basket_pairs", oracle="""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*) AS support
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
n_orders AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n
  FROM lineitem),
freq AS (SELECT l_partkey, count(*) AS f FROM items GROUP BY 1)
SELECT part_a, part_b, CAST(support AS BIGINT) AS support,
       support / fa.f AS confidence,
       (support * n) / (fa.f * fb.f) AS lift
FROM pairs
JOIN freq fa ON fa.l_partkey = part_a
JOIN freq fb ON fb.l_partkey = part_b
CROSS JOIN n_orders
WHERE support >= 2
""")
def q_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining: part pairs bought together
    in ≥2 orders, with confidence P(b|a) and lift — the association-
    rule primitives. The pair space explodes within baskets only
    (self-join keyed on the ORDER, so candidate volume is
    Σ basket_size², bounded by the ~7-line TPC-H baskets — never a
    cross join over parts), then aggregates by pair; per-part
    frequencies and the order count attach as keyed/broadcast joins.
    Confidence and lift are single divisions of exact integers —
    identical doubles in both engines, no rounding needed."""
    li = table(spark, "lineitem", sf_dir)
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (a.join(b, "l_orderkey")
             .where(F.col("part_a") < F.col("part_b"))
             .groupBy("part_a", "part_b")
             .agg(F.count(F.lit(1)).alias("support"))
             .where(F.col("support") >= 2))
    n_orders = li.agg(
        F.countDistinct("l_orderkey").cast("double").alias("n"))
    freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("f"))
    fa = freq.select(F.col("l_partkey").alias("part_a"),
                     F.col("f").alias("fa"))
    fb = freq.select(F.col("l_partkey").alias("part_b"),
                     F.col("f").alias("fb"))
    return (pairs.join(fa, "part_a").join(fb, "part_b")
            .crossJoin(F.broadcast(n_orders))
            .select("part_a", "part_b", "support",
                    (F.col("support") / F.col("fa")).alias("confidence"),
                    ((F.col("support") * F.col("n"))
                     / (F.col("fa") * F.col("fb"))).alias("lift")))


@query("doc_ngram_novelty", oracle=r"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, len(w) - 2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w
        FROM documents)
  WHERE len(w) >= 3),
firstk AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS novel_grams,
       sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
         / count(*) AS novelty
FROM sh s JOIN firstk f USING (g)
GROUP BY s.doc_id
""")
def q_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-novelty scoring: for each document (in doc_id ingestion
    order), the fraction of its 3-gram shingles it is the FIRST
    document to contribute — the curation metric that tells you when
    more of a source stops adding information (novelty → 0 means the
    source is exhausted / repetitive; the marginal-value curve of a
    crawl). First-occurrence is min(doc_id) per gram — one gram-keyed
    aggregation joined back to the exploded postings; all outputs are
    exact-integer counts and one exact division."""
    from map_reduce_mongodb_spark.functions.text import word_shingles
    docs = table(spark, "documents", sf_dir)
    sh = (docs.select("doc_id",
                      F.explode(word_shingles(F.col("text"), 3))
                       .alias("g")))
    firstk = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                  .otherwise(0))
    return (sh.join(firstk, "g")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 novel.alias("novel_grams"),
                 (novel / F.count(F.lit(1))).alias("novelty")))


@query("unpivot_measures", oracle="""
SELECT measure,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(val), 2) AS total,
       min(val) AS min_val,
       max(val) AS max_val
FROM (SELECT CAST(l_quantity AS DOUBLE) AS l_quantity,
             CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
             CAST(l_discount AS DOUBLE) AS l_discount
      FROM lineitem)
UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))
GROUP BY measure
""")
def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt surface: lineitem's three numeric measures into
    long form (measure, value) + per-measure profile — the wide→long
    reshape every metrics pipeline needs (the inverse of
    `pivot_priority_status`). Spark's native ``unpivot`` (an Expand
    node — one pass, rows×measures output, no shuffle until the
    aggregate); sums round to 2 (cent/integer-valued measures, so the
    2-decimal true value is order-independent), min/max are exact."""
    li = table(spark, "lineitem", sf_dir).select(
        F.col("l_quantity").cast("double"),
        F.col("l_extendedprice").cast("double"),
        F.col("l_discount").cast("double"))
    return (li.unpivot([], ["l_quantity", "l_extendedprice",
                            "l_discount"], "measure", "val")
            .groupBy("measure")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("val"), 2).alias("total"),
                 F.min("val").alias("min_val"),
                 F.max("val").alias("max_val")))


@query("events_time_weighted_avg", oracle="""
WITH seg AS (
  SELECT user_id,
         value AS v_prev,
         epoch_us(lead(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id))
           - epoch_us(ts) AS dt_us
  FROM events)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(dt_us) AS BIGINT) AS span_us,
       round(sum(v_prev * dt_us) / sum(dt_us), 6) AS twa_value
FROM seg WHERE dt_us IS NOT NULL AND dt_us > 0
GROUP BY user_id
""")
def q_events_time_weighted_avg(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Time-weighted average (left-constant interpolation): each
    event's value holds until the user's next event; the average
    weights each value by how long it held — the correct aggregate
    for sampled gauges/sensors where plain avg() over-counts bursts
    (TimescaleDB's ``time_weight``, re-expressed as one lead window +
    one keyed aggregation). Weights are BIGINT microseconds (exact);
    the weighted sum is double accumulation, defended by round-6 on
    the final ratio; zero-length segments (equal timestamps) drop on
    both sides."""
    from map_reduce_mongodb_spark.functions.scalar import epoch_us_ntz
    events = table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us_ntz(F.col("ts"))  # zone-free on NTZ (ADVICE r7)
    seg = (events
           .select("user_id", F.col("value").alias("v_prev"),
                   (F.lead(us).over(w) - us).alias("dt_us"))
           .where(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0)))
    return (seg.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_segments"),
                 F.sum("dt_us").alias("span_us"),
                 F.round(F.sum(F.col("v_prev") * F.col("dt_us"))
                         / F.sum("dt_us"), 6).alias("twa_value")))


@query("regexp_functions", oracle=r"""
SELECT p_partkey,
       regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
       CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS INT)
         AS n_words,
       coalesce(array_to_string(regexp_extract_all(p_name,
                                                   '[a-z]{6,}'), '|'),
                '') AS long_words,
       (p_name ~ '.*re.*') AS has_re
FROM part
""")
def q_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-function surface sweep: extract / replace-all / count /
    extract-all / match over part names. Patterns stay inside the
    character-class + quantifier subset where Java regex (Spark) and
    RE2 (DuckDB) agree exactly — no backrefs, no lookaround (RE2
    lacks them; a query needing them is Spark-only by contract). All
    regex work is JVM-side codegen, no UDFs. `long_words` is emitted
    as a '|'-joined string (identically in both engines) because
    array cells are not sortable keys for downstream tabular
    canonicalizers."""
    p = table(spark, "part", sf_dir)
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.size(F.regexp_extract_all("p_name", F.lit("[a-z]+"),
                                    F.lit(0))).alias("n_words"),
        F.array_join(F.regexp_extract_all("p_name", F.lit("[a-z]{6,}"),
                                          F.lit(0)), "|")
         .alias("long_words"),
        F.col("p_name").rlike(".*re.*").alias("has_re"))


@query("events_cdc_latest", oracle="""
SELECT user_id, event_type, latest_value, latest_ts,
       CAST(n_versions AS BIGINT) AS n_versions
FROM (
  SELECT user_id, event_type, value AS latest_value, ts AS latest_ts,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id, event_type)
           AS n_versions
  FROM events)
WHERE rn = 1
""")
def q_events_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC / changelog compaction: latest-record-wins per key — the
    materialization step every change-capture pipeline runs to turn
    an event log into current state (Kafka log compaction,
    Delta MERGE-on-read, upsert sinks). Spark side uses ONE
    ``max_by`` aggregation keyed by a (ts, event_id) struct — a
    map-side-combinable agg, strictly cheaper at scale than the
    sort-based window formulation the oracle uses (no per-partition
    sort, no rn=1 filter pass; same deterministic winner because the
    struct order is the window's total order)."""
    events = table(spark, "events", sf_dir)
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (events.groupBy("user_id", "event_type")
            .agg(F.max_by("value", ordk).alias("latest_value"),
                 F.max_by("ts", ordk).alias("latest_ts"),
                 F.count(F.lit(1)).alias("n_versions")))


@query("doc_token_entropy", oracle=r"""
WITH w AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS word
  FROM documents),
cnt AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
tot AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n
        FROM cnt GROUP BY 1)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_unique,
       count(*) / any_value(t.n) AS type_token_ratio,
       round(-sum((c / t.n) * ln(c / t.n)), 6) + 0.0 AS entropy
FROM cnt c JOIN tot t ON c.doc_id = t.doc_id
GROUP BY c.doc_id
""")
def q_doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution diagnostics: Shannon entropy of
    the doc's own word distribution and type-token ratio — the
    information-density quality signals (template/spam pages score
    low-entropy; keyword-stuffed pages score anomalous TTR) that
    complement `doc_repetition`'s n-gram view. Two keyed aggregations
    (word counts per doc, then the entropy fold); the per-term
    p·ln p values are identical doubles in both engines, so only the
    final sum needs the round-6 order defense; TTR is an exact-
    integer/exact-double division, unrounded. The ``+ 0.0`` after the
    round normalizes IEEE negative zero: a single-token doc gives
    p=1 → -1·ln(1) = -0.0 in DuckDB but 0.0 in Spark, and the value
    hash is repr-sensitive (r9 randomized-data sweep; fixtures have
    no single-token docs)."""
    from map_reduce_mongodb_spark.functions.text import words
    docs = table(spark, "documents", sf_dir)
    w = docs.select("doc_id", F.explode(words(F.col("text")))
                    .alias("word"))
    cnt = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("double").alias("n"))
    p = F.col("c") / F.col("n")
    return (cnt.join(tot, "doc_id")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_unique"),
                 (F.count(F.lit(1)) / F.first("n"))
                  .alias("type_token_ratio"),
                 (F.round(-F.sum(p * F.log(p)), 6) + F.lit(0.0))
                 .alias("entropy")))


@query("funnel_time_to_convert", oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS first_view
  FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, min(e.ts) AS first_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.first_view
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, min(e.ts) AS first_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.first_click
  GROUP BY e.user_id)
SELECT c.user_id,
       epoch_us(c.first_click) - epoch_us(v.first_view)
         AS view_to_click_us,
       epoch_us(p.first_purchase) - epoch_us(c.first_click)
         AS click_to_purchase_us
FROM c JOIN v ON v.user_id = c.user_id
LEFT JOIN p ON p.user_id = c.user_id
""")
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Funnel LATENCY: per user, microsecond-exact time from first
    view to first subsequent click, and from that click to first
    subsequent purchase (NULL while un-converted) — the companion to
    `funnel_conversion`'s stage counts: counts say how many drop off,
    latencies say where the friction is. Same ordered stage-anchor
    joins (all keyed by user_id); output is per-user BIGINT
    microseconds, fully deterministic."""
    from map_reduce_mongodb_spark.functions.scalar import epoch_us_ntz
    us = lambda col: epoch_us_ntz(F.col(col))  # noqa: E731  zone-free
    v, c, p = _funnel_stage_anchors(table(spark, "events", sf_dir))
    return (c.join(v, "user_id").join(p, "user_id", "left")
            .select("user_id",
                    (us("first_click") - us("first_view"))
                    .alias("view_to_click_us"),
                    (us("first_purchase") - us("first_click"))
                    .alias("click_to_purchase_us")))


@query("lang_source_chi2", oracle="""
WITH obs AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2),
rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY 1),
ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY 1),
n AS (SELECT CAST(sum(o) AS DOUBLE) AS n FROM obs),
cells AS (
  SELECT obs.lang, obs.source, o, (r * c) / n.n AS e
  FROM obs JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n)
SELECT lang, source, o AS observed, e AS expected,
       ((o - e) * (o - e)) / e AS chi2_contrib
FROM cells
""")
def q_lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency-table independence diagnostics: the (lang × source)
    observed counts, independence-expected counts row·col/N, and each
    cell's χ² contribution — the drift/bias detector for corpus
    composition (a cell with a large contribution means that source's
    language mix deviates from the corpus — exactly what you audit
    before blending sources into a training mixture). One count
    aggregation + two tiny marginal re-aggregations broadcast back;
    expected and χ² are single exact-integer-product divisions —
    identical doubles in both engines, no rounding anywhere."""
    docs = table(spark, "documents", sf_dir)
    obs = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("lang").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").cast("double").alias("n"))
    e = (F.col("r") * F.col("c")) / F.col("n")
    return (obs.join(F.broadcast(rt), "lang")
            .join(F.broadcast(ct), "source")
            .crossJoin(F.broadcast(n))
            .select("lang", "source", F.col("o").alias("observed"),
                    e.alias("expected"),
                    (((F.col("o") - e) * (F.col("o") - e)) / e)
                    .alias("chi2_contrib")))


@query("usgs_sites_within_radius", oracle=_USGS_SITES_CTE + """
SELECT site_a, site_b, dist2 FROM (
  SELECT a.site AS site_a, b.site AS site_b,
         (a.lon - b.lon) * (a.lon - b.lon)
         + (a.lat - b.lat) * (a.lat - b.lat) AS dist2
  FROM sites a JOIN sites b ON a.site < b.site)
WHERE dist2 <= 9.0
""")
def q_usgs_sites_within_radius(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Spatial radius self-join, BUCKETED: all site pairs within 3
    planar degrees via the grid-cell join (cells of side r; any pair
    within r shares or neighbours a cell, so candidates come from a
    cell-keyed equality join — the spatial analogue of LSH banding —
    and the exact distance check verifies). This makes the scale path
    `usgs_nearest_sites` only documents REAL: candidate volume is
    cell-cohabitants, never |sites|². The oracle brute-forces all
    pairs, so parity proves the bucketing loses nothing; distance
    math is +/×/compare only — IEEE-identical in both engines,
    unrounded. See operators/spatial.py for pair-once accounting and
    the hot-cell skew dial."""
    from map_reduce_mongodb_spark.operators.spatial import radius_pairs
    sites = _usgs_synth_sites(spark, sf_dir)
    return (radius_pairs(sites, "site", "lon", "lat", 3.0)
            .select(F.col("id_a").alias("site_a"),
                    F.col("id_b").alias("site_b"), "dist2"))


@query("image_ahash", oracle=_MEDIA_RAW_CTE + """,
img AS (
  SELECT doc_id, raw, n,
         16 + n % 48 AS w,
         16 + (n // 7) % 48 AS h
  FROM media_raw WHERE doc_id % 3 = 0 AND length(text) > 0),
body AS (
  SELECT doc_id, w, h,
         substring(repeat(raw, CAST((w * h * 3 + n - 1) // n AS INT)),
                   1, w * h * 3) AS px
  FROM img),
gray AS (
  SELECT doc_id, w, h,
         list_transform(generate_series(0, w * h - 1),
             q -> ascii(substr(px, 3 * q + 1, 1))
                  + ascii(substr(px, 3 * q + 2, 1))
                  + ascii(substr(px, 3 * q + 3, 1))) AS gs
  FROM body),
pxg AS (
  SELECT doc_id, w, h,
         unnest(gs) AS g,
         unnest(generate_series(0, w * h - 1)) AS q
  FROM gray),
cells AS (
  SELECT doc_id, (8 * (q // w)) // h AS ci, (8 * (q % w)) // w AS cj,
         CAST(sum(g) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS cn
  FROM pxg GROUP BY 1, 2, 3),
tot AS (
  SELECT doc_id, CAST(sum(s) AS BIGINT) AS ts,
         CAST(sum(cn) AS BIGINT) AS tc
  FROM cells GROUP BY 1),
bits AS (
  SELECT c.doc_id, ci * 8 + cj AS b,
         CASE WHEN s * tc >= ts * cn THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN tot USING (doc_id)),
hashes AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN bit = 0 THEN 0
                       WHEN b = 63
                         THEN CAST(-9223372036854775807 AS BIGINT) - 1
                       ELSE CAST(1 AS BIGINT) << b END) AS BIGINT)
           AS ahash
  FROM bits GROUP BY doc_id)
SELECT i.doc_id, CAST(i.w AS INT) AS width, CAST(i.h AS INT) AS height,
       hs.ahash
FROM img i JOIN hashes hs USING (doc_id)
""")
def q_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash over REAL decoded image pixels: each
    PPM is parsed, its pixel grid bucketed into 8×8 cells, and bit
    ci·8+cj set when the cell's mean intensity ≥ the image mean —
    the classic image near-dup fingerprint (two images within small
    Hamming distance are visual duplicates; the pair search reuses
    dedup.simhash_pairs(bits=64) unchanged, because fingerprints are
    modality-agnostic once computed). Every quantity is an exact
    integer — intensity is the channel SUM and the threshold
    comparison cross-multiplies instead of dividing — so the 64-bit
    hash is bit-identical to the oracle, which re-derives EVERY pixel
    arithmetically from the synthesis formula (repeat-truncated
    md5-hex bytes) and assembles the same hash in SQL: the strongest
    decode-correctness pin in the multimodal family (a single
    misplaced pixel flips cells). Arrow-batched narrow decode stage,
    no shuffle."""
    from map_reduce_mongodb_spark.operators.multimodal import (
        image_ahash, media_from_documents)
    docs = table(spark, "documents", sf_dir).where(F.length("text") > 0)
    fps = image_ahash(media_from_documents(docs))
    return fps.select(F.col("media_id").alias("doc_id"),
                      "width", "height", "ahash")


#: Shared audio-decode oracle prefix: reconstruct every int16 PCM
#: sample from its little-endian md5-hex byte pair, bucket samples into
#: 32 time windows, and mark each non-empty window's above/below-mean
#: energy bit (exact-integer cross-multiplied threshold). Consumed by
#: `audio_fingerprint` (bit packing) and `audio_silence_runs`
#: (gaps-and-islands over the below-mean windows).
_AUDIO_BITS_CTE = _MEDIA_RAW_CTE + """,
a AS (
  -- length(text) > 0 mirrors the Spark-side .where of BOTH consumers
  -- (fingerprint / silence_runs): under hash-derived payloads an
  -- empty-text doc has real samples, so the filter must match
  SELECT doc_id, raw, n FROM media_raw
  WHERE doc_id % 3 = 1 AND length(text) > 0),
b AS (SELECT doc_id, raw, n - (n % (2 * (1 + n % 2))) AS dsize FROM a),
sv AS (
  SELECT doc_id, dsize // 2 AS ns,
         list_transform(generate_series(0, dsize // 2 - 1),
             k -> ascii(substr(raw, CAST(2 * k + 1 AS INT), 1))
                  + 256 * ascii(substr(raw, CAST(2 * k + 2 AS INT), 1)))
           AS vs
  FROM b WHERE dsize >= 2),
sk AS (
  SELECT doc_id, ns, unnest(vs) AS v,
         unnest(generate_series(0, ns - 1)) AS k
  FROM sv),
win AS (
  SELECT doc_id, (32 * k) // ns AS w_id,
         CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS e,
         CAST(count(*) AS BIGINT) AS c
  FROM sk GROUP BY 1, 2),
tot AS (
  SELECT doc_id, CAST(sum(e) AS BIGINT) AS te,
         CAST(sum(c) AS BIGINT) AS tc
  FROM win GROUP BY 1),
bits AS (
  SELECT w.doc_id, w_id,
         CASE WHEN e * tc >= te * c THEN 1 ELSE 0 END AS bit
  FROM win w JOIN tot USING (doc_id))"""


@query("audio_fingerprint", oracle=_AUDIO_BITS_CTE + """,
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN bit = 1 THEN CAST(1 AS BIGINT) << w_id
                       ELSE 0 END) AS BIGINT) AS afp
  FROM bits GROUP BY doc_id)
SELECT sv.doc_id, CAST(sv.ns AS BIGINT) AS n_samples, fp.afp
FROM sv JOIN fp USING (doc_id)
""")
def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic energy fingerprint over REAL decoded PCM: 32 time
    windows over the sample stream, bit w set when window w's mean
    energy ≥ the clip mean (cross-multiplied exact-integer threshold,
    energies are int64 sums of v²) — the audio member of the
    perceptual-fingerprint family (image_ahash / video_frame_ahash),
    same bit-exact SQL reproducibility: the oracle reconstructs every
    int16 sample from its little-endian md5-hex byte pair and assembles
    the identical 32-bit fingerprint. Near-dup clips = small Hamming
    distance, searched with dedup.simhash_pairs(bits=32) unchanged."""
    from map_reduce_mongodb_spark.operators.multimodal import (
        audio_fingerprint, media_from_documents)
    docs = table(spark, "documents", sf_dir).where(F.length("text") > 0)
    fps = audio_fingerprint(media_from_documents(docs))
    return fps.select(F.col("media_id").alias("doc_id"),
                      "n_samples", "afp")


@query("video_frame_ahash", oracle=_MEDIA_RAW_CTE + """,
img AS (
  SELECT doc_id, raw, n,
         16 + n % 32 AS w,
         16 + (n // 5) % 32 AS h,
         2 + n % 7 AS nf
  FROM media_raw WHERE doc_id % 3 = 2 AND length(text) > 0),
body AS (
  SELECT doc_id, w, h, nf, w * h AS wh,
         substring(repeat(raw,
                          CAST((w * h * 3 + nf + n - 1) // n AS INT)),
                   1, w * h * 3) AS f0
  FROM img),
gray AS (
  SELECT doc_id, w, h,
         list_transform(generate_series(0, wh - 1),
             q -> ascii(substr(f0, CAST(q + 1 AS INT), 1))
                  + ascii(substr(f0, CAST(wh + q + 1 AS INT), 1))
                  + ascii(substr(f0, CAST(2 * wh + q + 1 AS INT), 1)))
           AS gs
  FROM body),
pxg AS (
  SELECT doc_id, w, h, unnest(gs) AS g,
         unnest(generate_series(0, w * h - 1)) AS q
  FROM gray),
cells AS (
  SELECT doc_id, (8 * (q // w)) // h AS ci, (8 * (q % w)) // w AS cj,
         CAST(sum(g) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS cn
  FROM pxg GROUP BY 1, 2, 3),
tot AS (
  SELECT doc_id, CAST(sum(s) AS BIGINT) AS ts,
         CAST(sum(cn) AS BIGINT) AS tc
  FROM cells GROUP BY 1),
bits AS (
  SELECT c.doc_id, ci * 8 + cj AS b,
         CASE WHEN s * tc >= ts * cn THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN tot USING (doc_id)),
hashes AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN bit = 0 THEN 0
                       WHEN b = 63
                         THEN CAST(-9223372036854775807 AS BIGINT) - 1
                       ELSE CAST(1 AS BIGINT) << b END) AS BIGINT)
           AS f0_ahash
  FROM bits GROUP BY doc_id)
SELECT i.doc_id, CAST(i.w AS INT) AS width, CAST(i.h AS INT) AS height,
       CAST(i.nf AS INT) AS n_frames, hs.f0_ahash
FROM img i JOIN hashes hs USING (doc_id)
""")
def q_video_frame_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-frame perceptual hash for video: the Y4M stream's frame 0
    (three C444 planes), intensity Y+U+V per spatial position, same
    exact-integer 8×8 cell aHash as `image_ahash` — completing the
    perceptual-fingerprint family across all three modalities, each
    pinned bit-for-bit by a SQL oracle that re-derives the decoded
    bytes from the synthesis formula (here: frame 0 is the
    repeat-truncated md5-hex raw, planes at offsets 0 / w·h / 2·w·h). A
    wrong plane offset, frame boundary, or cell map flips bits —
    decode correctness is the thing under test."""
    from map_reduce_mongodb_spark.operators.multimodal import (
        media_from_documents, video_frame_ahash)
    docs = table(spark, "documents", sf_dir).where(F.length("text") > 0)
    fps = video_frame_ahash(media_from_documents(docs))
    return fps.select(F.col("media_id").alias("doc_id"),
                      "width", "height", "n_frames", "f0_ahash")


@query("events_range_frame", oracle="""
SELECT user_id, event_id,
       CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
       round(sum(value) OVER w, 2) AS value_last_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
""")
def q_events_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-based (RANGE) window frames: for every event, the count
    and value sum of the same user's events in the PRECEDING HOUR —
    the trailing-window feature (rate limiting, burst detection,
    rolling exposure) that ROWS frames cannot express, because the
    frame boundary is a timestamp delta, not a row count. RANGE
    frames are also tiebreak-free by construction (peers at the same
    ts are always in or out together), so the result is deterministic
    without a unique ordering column. Spark expresses the interval as
    microsecond offsets on a ``unix_micros`` ordering
    (``rangeBetween(-3600·10⁶, 0)``) — exactly DuckDB's
    ``RANGE INTERVAL 1 HOUR PRECEDING`` at microsecond precision.
    One user-keyed shuffle; the frame scan is the standard sliding
    aggregation within partition."""
    from map_reduce_mongodb_spark.functions.scalar import epoch_us_ntz
    events = table(spark, "events", sf_dir)
    w = (Window.partitionBy("user_id")
         .orderBy(epoch_us_ntz(F.col("ts")))
         .rangeBetween(-3_600_000_000, 0))
    return events.select(
        "user_id", "event_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 2).alias("value_last_hour"))


@query("events_ewma", oracle="""
SELECT user_id, event_id,
       coalesce(value, 0.0) * 0.5
       + coalesce(lag(value, 1) OVER w, 0.0) * 0.25
       + coalesce(lag(value, 2) OVER w, 0.0) * 0.125
       + coalesce(lag(value, 3) OVER w, 0.0) * 0.0625
       + coalesce(lag(value, 4) OVER w, 0.0) * 0.03125
       + coalesce(lag(value, 5) OVER w, 0.0) * 0.015625
       + coalesce(lag(value, 6) OVER w, 0.0) * 0.0078125
       + coalesce(lag(value, 7) OVER w, 0.0) * 0.00390625
         AS ewma8
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's event
    values — the online smoothing primitive behind rate estimators and
    drift monitors — as a DEPTH-8 truncated EWMA with alpha = 1/2:
    weight for the k-th previous value is (1/2)^(k+1), so every
    coefficient is an exact binary fraction and each product is an
    exact IEEE halving (no cross-engine libm, no pow). The infinite
    recurrence can't be a distributed window (each row depends on an
    unbounded prefix through one running state); the depth-8
    truncation caps the absolute error at 2^-8·max|value| while
    turning the operator into eight LAG terms inside one user-keyed
    window — embarrassingly parallel across users at any scale, one
    shuffle. The sum is written in the SAME left-associated order in
    both engines, so the doubles agree bit-for-bit unrounded."""
    events = table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    term = F.coalesce(F.col("value"), F.lit(0.0)) * F.lit(0.5)
    for k in range(1, 8):
        term = term + (F.coalesce(F.lag("value", k).over(w),
                                  F.lit(0.0))
                       * F.lit(0.5 ** (k + 1)))
    return events.select("user_id", "event_id", term.alias("ewma8"))


@query("doc_template_clusters", oracle="""
WITH p AS (
  SELECT doc_id, n_chars,
         array_to_string(string_split(text, ' ')[1:5], ' ') AS prefix
  FROM documents)
SELECT prefix,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS exemplar_doc,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(n_chars), 2) AS avg_chars
FROM p GROUP BY prefix HAVING count(*) > 1
""")
def q_doc_template_clusters(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Template / boilerplate detection: cluster documents by their
    opening 5-word prefix and surface every prefix shared by more
    than one document — the cheap first pass that catches templated
    pages (scraped headers, license preambles, form letters) before
    the expensive near-dup machinery runs. One hash aggregate keyed
    by the prefix string — a single shuffle whose key cardinality is
    bounded by the template count, not the corpus; at 100 TB the
    same plan holds because map-side partial aggregation collapses
    each partition's repeats before the exchange. The exemplar is
    min(doc_id) (deterministic, not first())."""
    docs = table(spark, "documents", sf_dir)
    prefix = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 5),
                          " ")
    return (docs.select(prefix.alias("prefix"), "doc_id", "n_chars")
            .groupBy("prefix")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("exemplar_doc"),
                 F.sum("n_chars").alias("total_chars"),
                 F.round(F.avg("n_chars"), 2).alias("avg_chars"))
            .where(F.col("n_docs") > 1))


@query("fuzzy_name_match", oracle="""
WITH names AS (
  SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts,
         string_split(p_name, ' ')[-1] AS blk
  FROM part GROUP BY p_name)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM names a JOIN names b
  ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
""")
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked fuzzy matching: candidate
    name-pairs within an edit distance of 3, the record-linkage
    primitive behind catalog/vendor/author dedup. The design is the
    standard two-level cut that makes ER tractable at scale: (1)
    collapse rows to DISTINCT entity names first (one hash aggregate
    — pair generation then scales with the entity vocabulary, not
    the row count), (2) BLOCK on a cheap deterministic key (here the
    head noun = last token) so the quadratic levenshtein join runs
    within blocks only — O(sum of block^2), never all-pairs. At 100 TB
    the same plan holds: the name aggregate is map-side-combined, the
    block join shuffles both sides on the block key, and a hot block
    gets the same cap/salt treatment as an LSH hot bucket
    (operators/dedup.py max_bucket_size). Both engines implement
    unit-cost Levenshtein identically, so the pair SET is exact."""
    p = table(spark, "part", sf_dir)
    names = (p.groupBy("p_name")
             .agg(F.count(F.lit(1)).alias("n_parts"))
             .withColumn("blk", F.element_at(
                 F.split(F.col("p_name"), " "), -1)))
    a = names.alias("a")
    b = names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                   & (F.col("a.p_name") < F.col("b.p_name")))
            .where(dist <= 3)
            .select(F.col("a.p_name").alias("name_a"),
                    F.col("b.p_name").alias("name_b"),
                    dist.cast("int").alias("edit_dist"),
                    F.col("a.n_parts").alias("n_parts_a"),
                    F.col("b.n_parts").alias("n_parts_b")))


def _morton16_sql(x: str, y: str) -> str:
    """16-bit Morton (Z-order) code: interleave the low 8 bits of x
    (even positions) and y (odd positions). Pure integer shift/mask
    SQL, identical text in both engines."""
    return " + ".join(
        f"(((({x} >> {b}) & 1) << {2 * b})"
        f" + ((({y} >> {b}) & 1) << {2 * b + 1}))"
        for b in range(8))


@query("zorder_layout", oracle=f"""
WITH pts AS (
  SELECT o_custkey % 256 AS x,
         date_diff('day', DATE '1992-01-01',
                   CAST(o_orderdate AS DATE)) % 256 AS y
  FROM orders),
z AS (
  SELECT x, y, {_morton16_sql('x', 'y')} AS zcode FROM pts)
SELECT CAST(zcode >> 10 AS BIGINT) AS zbucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
       CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max
FROM z GROUP BY 1
""")
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data layout: interleave the bits of two
    clustering dimensions (customer bucket x, order-day bucket y)
    into one sort key and bucket rows by its high bits — the
    multi-dimensional clustering scheme behind Delta/Iceberg OPTIMIZE
    ZORDER. The payoff shows in the output itself: every Z-bucket's
    (x_min..x_max, y_min..y_max) spans a small aligned tile of BOTH
    dimensions at once (here ≤32×32 out of 256×256), so file-level
    min/max statistics prune selective predicates on EITHER column —
    a 1-D sort only prunes its leading column. The code is pure
    integer shift/mask arithmetic (exact in both engines, no UDF),
    and the layout pass at scale is a single range-partition-by-zcode
    write; this query materializes the bucket→tile statistics a
    data-skipping reader would consult."""
    o = table(spark, "orders", sf_dir)
    pts = o.select(
        (F.col("o_custkey") % 256).alias("x"),
        (F.datediff(F.to_date("o_orderdate"),
                    F.lit("1992-01-01").cast("date")) % 256
         ).cast("long").alias("y"))
    z = pts.withColumn("zcode", F.expr(_morton16_sql("x", "y")))
    return (z.groupBy(F.expr("zcode >> 10").cast("long")
                      .alias("zbucket"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.min("x").cast("long").alias("x_min"),
                 F.max("x").cast("long").alias("x_max"),
                 F.min("y").cast("long").alias("y_min"),
                 F.max("y").cast("long").alias("y_max")))


def _hard_negative_oracle(dim: int = 64, k: int = 5, nq: int = 10
                          ) -> str:
    from map_reduce_mongodb_spark.functions.vectors import (
        cosine_unrolled_sql)
    cos = cosine_unrolled_sql("qv", "cv", dim)
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                  label AS qlabel
           FROM embeddings WHERE vec_id < {nq}),
     c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                  label AS nlabel
           FROM embeddings),
     scored AS (
       SELECT query_id, neighbor_id, nlabel, {cos} AS cosine
       FROM c, q WHERE nlabel <> qlabel)
SELECT query_id, neighbor_id, CAST(nlabel AS INT) AS neighbor_label,
       cosine, rank
FROM (
  SELECT query_id, neighbor_id, nlabel, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= {k}
"""


@query("hard_negative_mining", oracle=_hard_negative_oracle())
def q_hard_negative_mining(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the top-5 most-similar vectors with a DIFFERENT label —
    the highest-value negatives (near the decision boundary) that
    make triplet/InfoNCE training converge. Same scale shape as
    cosine_topk_bruteforce: anchors (with their labels) broadcast,
    the corpus streams without shuffling, the label-mismatch
    predicate prunes pairs BEFORE the dot product, and the per-anchor
    window ranks |anchors|-bounded groups. At index scale the
    candidate stage swaps for IVF/LSH retrieval with the label filter
    pushed into the bucket probe — the mining semantics are
    index-agnostic."""
    from map_reduce_mongodb_spark.functions.vectors import (
        dot_unrolled, norm_sq_unrolled)
    emb = table(spark, "embeddings", sf_dir)
    q = (emb.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv"),
                 F.col("label").alias("qlabel"),
                 norm_sq_unrolled("embedding", 64).alias("qn")))
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("cv"),
                   F.col("label").alias("nlabel"),
                   norm_sq_unrolled("embedding", 64).alias("cn"))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("nlabel") != F.col("qlabel"))
    cos = (dot_unrolled("qv", "cv", 64)
           / F.sqrt(F.col("qn") * F.col("cn")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (pairs.withColumn("cosine", cos)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("query_id", "neighbor_id",
                    F.col("nlabel").cast("int").alias("neighbor_label"),
                    "cosine", "rank"))


@query("token_budget_allocator", oracle="""
WITH avail AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS available
  FROM documents GROUP BY source),
w AS (
  SELECT source, available,
         CAST(floor(sqrt(CAST(available AS DOUBLE))) AS BIGINT) AS isq
  FROM avail),
d AS (SELECT CAST(sum(isq) AS BIGINT) AS denom FROM w)
SELECT source, available,
       CAST(1000000 * isq // denom AS BIGINT) AS target_tokens,
       CAST(1000000 * isq // denom AS DOUBLE) / available AS epochs
FROM w, d
""")
def q_token_budget_allocator(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Training-mixture budget allocation with temperature-scaled
    (alpha = 1/2) source weights: each source's share of a 1M-token
    budget is proportional to sqrt(available tokens) — the standard
    up-weighting of small sources used in multilingual / multi-corpus
    pre-training mixes — and `epochs` is the resulting repeat factor
    (>1 means the source is oversampled). All share arithmetic is
    EXACT integers: the weight is floor(sqrt(available)) (IEEE sqrt
    is correctly-rounded, so both engines floor the same double), the
    denominator is an integer sum, and the target is integer
    `div` — no cross-engine float accumulation anywhere. Scale shape:
    one map-side-combined aggregate keyed by source (mixture
    cardinality, not corpus), a broadcast 1-row denominator, and a
    per-source scalar expression; the allocation table then drives
    `mixture_sampling`-style per-source sampling rates."""
    docs = table(spark, "documents", sf_dir)
    avail = (docs.groupBy("source")
             .agg(F.sum("n_chars").alias("available"))
             .withColumn("isq", F.floor(F.sqrt(
                 F.col("available").cast("double"))).cast("long")))
    denom = avail.agg(F.sum("isq").alias("denom"))
    return (avail.crossJoin(F.broadcast(denom))
            .select("source", "available",
                    F.expr("1000000 * isq div denom")
                     .alias("target_tokens"),
                    (F.expr("1000000 * isq div denom").cast("double")
                     / F.col("available")).alias("epochs")))


@query("video_shot_boundaries", oracle=_MEDIA_RAW_CTE + """,
img AS (
  SELECT doc_id, raw, n,
         16 + n % 32 AS w,
         16 + (n // 5) % 32 AS h,
         2 + n % 7 AS nf
  FROM media_raw WHERE doc_id % 3 = 2 AND length(text) > 0),
fr AS (
  SELECT doc_id, w, h, w * h AS wh,
         unnest(generate_series(0, nf - 1)) AS f,
         repeat(raw,
                CAST((w * h * 3 + nf + n - 1) // n AS INT)) AS rep
  FROM img),
body AS (
  SELECT doc_id, w, h, wh, f,
         substring(rep, CAST(f + 1 AS INT), wh * 3) AS fb
  FROM fr),
pxg AS (
  SELECT doc_id, w, h, f,
         unnest(list_transform(generate_series(0, wh - 1),
             q -> ascii(substr(fb, CAST(q + 1 AS INT), 1))
                  + ascii(substr(fb, CAST(wh + q + 1 AS INT), 1))
                  + ascii(substr(fb, CAST(2 * wh + q + 1 AS INT), 1))))
           AS g,
         unnest(generate_series(0, wh - 1)) AS q
  FROM body),
cells AS (
  SELECT doc_id, f, (8 * (q // w)) // h AS ci, (8 * (q % w)) // w AS cj,
         CAST(sum(g) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS cn
  FROM pxg GROUP BY 1, 2, 3, 4),
tot AS (
  SELECT doc_id, f, CAST(sum(s) AS BIGINT) AS ts,
         CAST(sum(cn) AS BIGINT) AS tc
  FROM cells GROUP BY 1, 2),
bits AS (
  SELECT c.doc_id, c.f, ci * 8 + cj AS b,
         CASE WHEN s * tc >= ts * cn THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN tot USING (doc_id, f)),
hashes AS (
  SELECT doc_id, f,
         CAST(sum(CASE WHEN bit = 0 THEN 0
                       WHEN b = 63
                         THEN CAST(-9223372036854775807 AS BIGINT) - 1
                       ELSE CAST(1 AS BIGINT) << b END) AS BIGINT) AS ah
  FROM bits GROUP BY 1, 2),
lagd AS (
  SELECT doc_id, f, ah,
         lag(ah) OVER (PARTITION BY doc_id ORDER BY f) AS prev
  FROM hashes)
SELECT doc_id, CAST(f AS INT) AS frame_id, ah AS ahash,
       CAST(coalesce(bit_count(xor(ah, prev)), -1) AS INT)
         AS hamming_prev,
       coalesce(bit_count(xor(ah, prev)) >= 8, FALSE) AS is_cut
FROM lagd
""")
def q_video_shot_boundaries(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Temporal video analysis: perceptual hash of EVERY frame, then
    shot-boundary detection as the Hamming distance between
    consecutive frame hashes (a cut = the 8x8 intensity structure
    jumps — here >= 8 of 64 bits flip). This is the per-frame
    extension of `video_frame_ahash` (frame 0 is bit-identical by
    construction) and the alignment substrate for clip-level dedup:
    two videos sharing a run of frame hashes are the same shot. The
    oracle re-derives every frame's hash arithmetically from the Y4M
    synthesis formula (frame f's plane block = the repeated md5-hex
    raw at byte offset f), so a wrong frame boundary, plane offset, or cell
    map flips bits. Scale shape: decode is Arrow-batched mapInPandas
    (one vectorized bincount per video, cost ~ decoded bytes); the
    lag window partitions by video (frames per video is a format
    constant, never data-sized)."""
    from map_reduce_mongodb_spark.operators.multimodal import (
        media_from_documents, video_frame_ahashes)
    docs = table(spark, "documents", sf_dir).where(F.length("text") > 0)
    fps = video_frame_ahashes(media_from_documents(docs))
    w = Window.partitionBy("media_id").orderBy("frame_id")
    prev = F.lag("ahash").over(w)
    ham = F.bit_count(F.col("ahash").bitwiseXOR(prev))
    return (fps.withColumn("hamming_prev",
                           F.coalesce(ham, F.lit(-1)).cast("int"))
            .withColumn("is_cut", F.coalesce(ham >= 8, F.lit(False)))
            .select(F.col("media_id").alias("doc_id"), "frame_id",
                    "ahash", "hamming_prev", "is_cut"))


def _pq_index(spark: SparkSession, sf_dir: str):
    """The trained PQ index shared by `pq_adc_topk` AND its rerank-all
    gate: codebooks via `cache.shared_value` (driver-side metadata),
    the encoded (vec_id, code) table via `cache.shared_parquet` — the
    8-byte-per-vector frame IS what a production store persists, so
    materializing it once per process is the production shape, the
    corpus encode pass runs once, and the gate hash-checks the exact
    code table the production query scores."""
    from map_reduce_mongodb_spark.cache import (shared_parquet,
                                                shared_value)
    from map_reduce_mongodb_spark.operators.similarity import (
        pq_encode, pq_train)
    emb = table(spark, "embeddings", sf_dir)
    books = shared_value(f"pq_books_8x16_{sf_dir}",
                         lambda: pq_train(emb))
    codes = shared_parquet(spark, f"pq_codes_8x16_{sf_dir}",
                           lambda: pq_encode(emb, books))
    return books, codes


@query("pq_adc_topk")  # no oracle: PQ candidates approximate by design
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: codebooks k-means-trained per
    subspace (8 subspaces × 16 centroids over the 64-dim unit
    sphere), every corpus vector compressed to an 8-byte code, ADC
    lookup-table scoring with per-partition top-50 candidate cuts,
    exact-cosine re-rank to top-5. The billion-scale path: codes are
    ~8 bytes/vector (RAM-resident at 10⁹ vectors), the corpus never
    shuffles during scoring, and only candidates reach the re-rank
    join. Approximate by design → rows-only under the driver; recall
    vs the exact brute force is gated in tests/test_similarity.py.
    Scores the shared trained index (`_pq_index`) — the rerank-all
    gate hash-checks this exact codebook + code table."""
    from map_reduce_mongodb_spark.operators.similarity import (
        pq_adc_topk)
    emb = table(spark, "embeddings", sf_dir)
    books, codes = _pq_index(spark, sf_dir)
    return pq_adc_topk(emb, query_ids=list(range(10)), k=5,
                       books=books, codes=codes)


@query("pq_rerank_all", oracle=_cosine_topk_oracle())
def q_pq_rerank_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ family's exactness gate (the `ivf_kmeans_probe_all`
    pattern): run the FULL PQ machinery — codebook training, 8-byte
    encoding, ADC lookup-table scoring — with the candidate cut
    widened to the whole corpus. The exact-cosine re-rank then sees
    every vector, so the final top-k is PROVABLY the brute-force
    answer for ANY trained codebooks — which makes the entire
    train/encode/score/re-rank pipeline hash-checkable against the
    same SQL oracle as `cosine_topk`. Complements the production-
    shaped `pq_adc_topk` (tight cuts, rows-only + recall gates).
    "Full machinery" is literal: both twins score the ONE shared
    trained index (`_pq_index`), so this hash-green row certifies the
    codebook + code table `pq_adc_topk` actually serves."""
    from map_reduce_mongodb_spark.operators.similarity import (
        pq_adc_topk)
    emb = table(spark, "embeddings", sf_dir)
    books, codes = _pq_index(spark, sf_dir)
    return pq_adc_topk(emb, query_ids=list(range(10)), k=5,
                       rerank=1 << 31,  # cut wider than any partition
                       books=books, codes=codes)


def _jl_projection_oracle(dim: int = 64, k: int = 8) -> str:
    from map_reduce_mongodb_spark.functions.vectors import (
        jl_component_duck_sql, jl_sign_matrix)
    signs = jl_sign_matrix(dim, k)
    comps = ", ".join(
        jl_component_duck_sql("embedding", signs[j], "0.25")
        + f" AS p{j}" for j in range(k))
    return f"SELECT vec_id, {comps} FROM embeddings"


@query("jl_projection", oracle=_jl_projection_oracle())
def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas ±1 variant):
    project each 64-dim embedding onto 8 components p_j =
    (1/sqrt(16))·Σ_i s_ij·v_i with a DETERMINISTIC sign matrix (signs
    derived from md5(i_j) at build time and inlined as literals in
    both engines) — the cheap dimensionality reduction that front-ends
    clustering/dedup when the native dimension is large. Everything is
    a per-row JVM expression: left-associated ±sums in the identical
    order both engines, scaled by the exact binary fraction 0.25, so
    the doubles agree bit-for-bit unrounded. No shuffle at all — the
    projection is map-only at any corpus size; the distance-
    preservation property (the reason JL works) is gated in
    tests/test_similarity.py over the full 16-component projection."""
    from map_reduce_mongodb_spark.functions.vectors import (
        jl_component_sql, jl_sign_matrix)
    signs = jl_sign_matrix(64, 8)
    emb = table(spark, "embeddings", sf_dir)
    return emb.select(
        "vec_id",
        *[F.expr(jl_component_sql("embedding", signs[j], "0.25"))
          .alias(f"p{j}") for j in range(8)])


def _bfs_oracle(iters: int = 4) -> str:
    steps = []
    for s in range(1, iters + 1):
        steps.append(f"""
d{s} AS (
  SELECT id, min(d) AS d FROM (
    SELECT id, d FROM d{s - 1}
    UNION ALL
    SELECT e.dst AS id, p.d + 1 AS d
    FROM edges e JOIN d{s - 1} p ON e.src = p.id) GROUP BY id)""")
    return _CC_CTE + f"""
, d0 AS (SELECT DISTINCT src AS id, 0 AS d FROM edges
         WHERE src % 10 = 0),
{','.join(steps)}
SELECT id AS doc_id, CAST(d AS INT) AS hops FROM d{iters}
"""


@query("dup_graph_bfs", oracle=_bfs_oracle())
def q_dup_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the near-dup graph: hop distance from the
    audited seed set (every 10th doc id) to everything reachable in
    ≤4 hops — the provenance question "how far is this document from
    a known-bad cluster?". Classic frontier iteration expressed as 4
    rounds of (edges ⋈ current distances → candidate distances,
    min-aggregate) — O(edges) per round, shuffle-keyed by node id, NO
    driver-side state, lineage cut per round with the graph.py
    checkpoint discipline. The oracle unrolls the same 4 relaxation
    steps as chained CTEs over the identical edge set, so hop counts
    match exactly. Reads the once-materialized 0.7-Jaccard pair
    table; at 100 TB each round is one shuffle bounded by the
    frontier, and 4 rounds is the fixed probe depth (not data-
    dependent)."""
    pairs = _jaccard_pairs_07(spark, sf_dir).select("id_a", "id_b")
    sym = symmetrize(pairs)
    edges = sym.select(F.col("id_a").alias("src"),
                       F.col("id_b").alias("dst"))
    dist = (edges.select("src").distinct()
            .where(F.col("src") % 10 == 0)
            .select(F.col("src").alias("id"), F.lit(0).alias("d")))
    for _ in range(4):
        relaxed = (edges.join(dist.withColumnRenamed("id", "src"),
                              "src")
                   .select(F.col("dst").alias("id"),
                           (F.col("d") + 1).alias("d")))
        nxt = checkpoint_leaf(
            dist.unionByName(relaxed).groupBy("id")
            .agg(F.min("d").alias("d")))
        release_leaf(dist)
        dist = nxt
    return dist.select(F.col("id").alias("doc_id"),
                       F.col("d").cast("int").alias("hops"))


def _label_prop_oracle(iters: int = 3) -> str:
    steps = []
    for r in range(1, iters + 1):
        steps.append(f"""
cnt{r} AS (
  SELECT e.dst AS id, p.lbl, count(*) AS c
  FROM edges e JOIN l{r - 1} p ON e.src = p.id
  GROUP BY 1, 2),
win{r} AS (
  SELECT id, lbl FROM (
    SELECT id, lbl,
           row_number() OVER (PARTITION BY id
                              ORDER BY c DESC, lbl) AS rn
    FROM cnt{r}) WHERE rn = 1),
l{r} AS (
  SELECT id, lbl FROM seeds
  UNION ALL
  SELECT w.id, w.lbl FROM win{r} w
  WHERE w.id NOT IN (SELECT id FROM seeds))""")
    return _CC_CTE + f"""
, seeds AS (SELECT DISTINCT src AS id, src % 5 AS lbl FROM edges
            WHERE src % 10 = 0),
l0 AS (SELECT id, lbl FROM seeds),
{','.join(steps)}
SELECT id AS doc_id, CAST(lbl AS INT) AS label FROM l{iters}
"""


@query("label_propagation", oracle=_label_prop_oracle())
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the near-dup graph:
    seed documents (every 10th id) carry a fixed class, and 3
    synchronous rounds spread labels to neighbours by majority vote
    (ties → lowest label; seeds never flip) — the auto-labeling /
    contamination-spread pattern: one reviewed document labels its
    whole duplication neighbourhood. Each round is one edge⋈labels
    join + a (node, label) count aggregate + a per-node argmax —
    all shuffle-keyed by node id, O(edges) per round, no driver
    state, lineage cut per round. The oracle unrolls the same 3
    rounds; vote counts and tiebreaks are integer-exact so labels
    match exactly. Reads the shared 0.7-Jaccard pair table."""
    pairs = _jaccard_pairs_07(spark, sf_dir).select("id_a", "id_b")
    sym = symmetrize(pairs)
    edges = sym.select(F.col("id_a").alias("src"),
                       F.col("id_b").alias("dst"))
    # leafed (r12): seeds — an edge-scaled distinct over the
    # symmetrized pair table — sits in every round's union branch AND
    # anti-join (plus round 1's label join), so left lazy the distinct
    # aggregate re-ran ~7× across the 3 checkpoint jobs. Materialized
    # once, every round reads a node-scaled leaf.
    seeds = checkpoint_leaf(
        edges.select("src").distinct()
        .where(F.col("src") % 10 == 0)
        .select(F.col("src").alias("id"),
                (F.col("src") % 5).alias("lbl")))
    labels = seeds
    for _ in range(3):
        cnt = (edges.join(labels.withColumnRenamed("id", "src"), "src")
               .groupBy(F.col("dst").alias("id"), "lbl")
               .agg(F.count(F.lit(1)).alias("c")))
        w = Window.partitionBy("id").orderBy(F.desc("c"), F.asc("lbl"))
        win = (cnt.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1).select("id", "lbl"))
        nxt = checkpoint_leaf(
            seeds.unionByName(
                win.join(seeds.select("id"), "id", "left_anti")))
        if labels is not seeds:
            release_leaf(labels)
        labels = nxt
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("lbl").cast("int").alias("label"))


@query("brand_qty_price_corr", oracle="""
WITH j AS (
  SELECT p.p_brand,
         CAST(l.l_quantity AS BIGINT) AS q,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS pe2
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
m AS (
  SELECT p_brand,
         CAST(count(*) AS BIGINT) AS n,
         sum(q) AS sq,
         sum(pe2) AS sp,
         sum(q * q) AS sqq,
         sum(pe2 * pe2) AS spp,
         sum(q * pe2) AS sqp
  FROM j GROUP BY p_brand)
SELECT p_brand, n,
       round((CAST(n AS DOUBLE) * sqp - CAST(sq AS DOUBLE) * sp)
             / sqrt((CAST(n AS DOUBLE) * sqq
                     - CAST(sq AS DOUBLE) * sq)
                    * (CAST(n AS DOUBLE) * spp
                       - CAST(sp AS DOUBLE) * sp)), 6) AS corr_qty_price
FROM m
WHERE n > 1
  AND CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq > 0
  AND CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp > 0
""")
def q_brand_qty_price_corr(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Per-brand Pearson correlation of order quantity vs line price —
    the feature-interaction profiling step (price elasticity shape)
    done with EXACT integer sufficient statistics: quantities are
    integral, prices go to cent units, and all six moments (n, Σq,
    Σp, Σq², Σp², Σqp) are BIGINT sums, so the only doubles are the
    final three-term formula evaluated identically in both engines
    and rounded at 6dp. One fact-sized equi-join (partkey) feeding
    one map-side-combined aggregate keyed by brand — the builtin
    `corr()` aggregate would accumulate doubles partition-order-
    dependently; the moment form is the distributed-exact way."""
    li = table(spark, "lineitem", sf_dir)
    p = table(spark, "part", sf_dir)
    j = (li.join(p, li.l_partkey == p.p_partkey)
         .select("p_brand",
                 F.col("l_quantity").cast("long").alias("q"),
                 F.round(F.col("l_extendedprice") * 100).cast("long")
                  .alias("pe2")))
    dec = "decimal(38,0)"
    m = (j.groupBy("p_brand")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.col("q").cast(dec)).alias("sq"),
              F.sum(F.col("pe2").cast(dec)).alias("sp"),
              F.sum((F.col("q") * F.col("q")).cast(dec)).alias("sqq"),
              F.sum((F.col("pe2") * F.col("pe2")).cast(dec))
               .alias("spp"),
              F.sum((F.col("q") * F.col("pe2")).cast(dec))
               .alias("sqp")))
    nd = F.col("n").cast("double")
    vq = nd * F.col("sqq") - F.col("sq").cast("double") * F.col("sq")
    vp = nd * F.col("spp") - F.col("sp").cast("double") * F.col("sp")
    cov = nd * F.col("sqp") - F.col("sq").cast("double") * F.col("sp")
    return (m.where((F.col("n") > 1) & (vq > 0) & (vp > 0))
            .select("p_brand", "n",
                    F.round(cov / F.sqrt(vq * vp), 6)
                     .alias("corr_qty_price")))


@query("events_sliding_distinct_users", oracle="""
WITH uh AS (
  SELECT DISTINCT event_type, date_trunc('hour', ts) AS hour, user_id
  FROM events),
w AS (
  SELECT a.event_type, a.hour, b.user_id
  FROM (SELECT DISTINCT event_type, hour FROM uh) a
  JOIN uh b
    ON a.event_type = b.event_type
   AND b.hour BETWEEN a.hour - INTERVAL 2 HOUR AND a.hour)
SELECT event_type, hour,
       CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
FROM w GROUP BY 1, 2
""")
def q_events_sliding_distinct_users(spark: SparkSession, sf_dir: str
                                    ) -> DataFrame:
    """Rolling ACTIVE-USER count (the DAU/WAU shape): per event type,
    distinct users over the trailing 3-hour window ending at each
    hour. Exact rolling distinct is the classic can't-window problem
    — COUNT(DISTINCT) isn't decomposable over sliding frames — so the
    scale-correct plan is TWO-LEVEL: (1) dedupe to (type, hour, user)
    once — the fact-sized map-side-combinable aggregate; (2) EXPLODE
    each deduped row into the ≤3 window-ending hours it serves
    (bounded fan-out = window span, never data-sized), keep only
    window hours that exist for the type (broadcast semi-join against
    the calendar-bounded spine — the oracle's `a` table), and count
    distinct per window. The hour-spine range join this replaced
    hash-partitioned on event_type alone (≈5 keys), so every spine
    row met its type's ENTIRE cohort before the range filter — ~13M
    intermediate pairs at sf0.1, 7.2 s; the explode plan shuffles
    3× the deduped cohort instead (measured ~1 s). HLL sketches
    (`approx_sketches`) are the documented approximate fallback when
    even the deduped cohort table is too hot."""
    e = table(spark, "events", sf_dir)
    uh = (e.select("event_type",
                   F.date_trunc("hour", F.col("ts")).alias("hour"),
                   "user_id")
          .distinct())
    spine = uh.select("event_type", "hour").distinct()
    exp = uh.select(
        "event_type", "user_id",
        F.explode(F.array(
            F.col("hour"),
            F.col("hour") + F.expr("INTERVAL 1 HOUR"),
            F.col("hour") + F.expr("INTERVAL 2 HOURS"))).alias("hour"))
    return (exp.join(F.broadcast(spine), ["event_type", "hour"])
            .groupBy("event_type", "hour")
            .agg(F.countDistinct("user_id").alias("active_users")))


@query("audience_overlap", oracle="""
WITH au AS (SELECT DISTINCT event_type, user_id FROM events),
sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
       FROM au GROUP BY 1),
ov AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM au a JOIN au b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b, n_shared,
       sa.n AS n_a, sb.n AS n_b,
       round(CAST(n_shared AS DOUBLE)
             / (sa.n + sb.n - n_shared), 6) AS jaccard
FROM ov
JOIN sz sa ON sa.event_type = type_a
JOIN sz sb ON sb.event_type = type_b
""")
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, the
    shared-user count and Jaccard similarity of their audiences — the
    segmentation/cannibalization readout (same math scores corpus
    overlap between data sources by shared document fingerprints).
    Scale shape: dedupe to (type, user) first (fact-sized,
    map-side-combined), then the pair expansion is a self-join keyed
    by USER — each user contributes only |their types|² pairs
    (bounded by the type vocabulary, never a cross join) — and the
    per-type sizes broadcast back onto the tiny pair table."""
    e = table(spark, "events", sf_dir)
    au = e.select("event_type", "user_id").distinct()
    sz = (au.groupBy("event_type")
          .agg(F.count(F.lit(1)).alias("n")))
    ov = (au.alias("a")
          .join(au.alias("b"),
                (F.col("a.user_id") == F.col("b.user_id"))
                & (F.col("a.event_type") < F.col("b.event_type")))
          .groupBy(F.col("a.event_type").alias("type_a"),
                   F.col("b.event_type").alias("type_b"))
          .agg(F.count(F.lit(1)).alias("n_shared")))
    return (ov.join(F.broadcast(sz.select(
                F.col("event_type").alias("type_a"),
                F.col("n").alias("n_a"))), "type_a")
            .join(F.broadcast(sz.select(
                F.col("event_type").alias("type_b"),
                F.col("n").alias("n_b"))), "type_b")
            .select("type_a", "type_b", "n_shared", "n_a", "n_b",
                    F.round(F.col("n_shared").cast("double")
                            / (F.col("n_a") + F.col("n_b")
                               - F.col("n_shared")), 6)
                     .alias("jaccard")))


@query("lang_char_trigram_profile", oracle="""
WITH tg AS (
  SELECT lang,
         unnest(list_transform(
             generate_series(1, length(text) - 2),
             i -> substr(text, CAST(i AS INT), 3))) AS tri
  FROM documents),
cnt AS (
  SELECT lang, tri, CAST(count(*) AS BIGINT) AS n
  FROM tg GROUP BY 1, 2),
rk AS (
  SELECT lang, tri, n,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n DESC, tri) AS rnk
  FROM cnt)
SELECT lang, CAST(rnk AS INT) AS rnk, tri, n
FROM rk WHERE rnk <= 10
""")
def q_lang_char_trigram_profile(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """The TRAINING side of language identification: per language,
    the top-10 character trigrams by corpus frequency — exactly the
    profile table the `lang_id` n-gram classifier scores against
    (Cavnar-Trenkle out-of-place method). The trigram explode is the
    only fact-sized stage and feeds one map-side-combined (lang,
    trigram) count; the ranking window then runs over the
    vocabulary-bounded count table (|langs| × |observed trigrams|),
    never the corpus, with a deterministic (count DESC, trigram)
    tiebreak so the profile SET is engine-exact."""
    d = table(spark, "documents", sf_dir)
    tg = d.select(
        "lang",
        F.explode(F.expr(
            "CASE WHEN length(text) < 3 THEN array() ELSE "
            "transform(sequence(1, length(text) - 2), "
            "i -> substr(text, i, 3)) END")).alias("tri"))
    cnt = (tg.groupBy("lang", "tri")
           .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tri"))
    return (cnt.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 10)
            .select("lang", F.col("rnk").cast("int").alias("rnk"),
                    "tri", "n"))


def _hilbert_level_sql(s: int) -> tuple[str, str, str]:
    """One xy→d Hilbert level (order-8 curve, side s): returns
    (d_increment, x', y') as engine-neutral SQL over columns x, y, d —
    pure integer CASE/mask arithmetic, identical text both engines."""
    rx = f"CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END"
    ry = f"CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END"
    quad = (f"CASE WHEN ({rx}) = 1 AND ({ry}) = 1 THEN 2 "
            f"WHEN ({rx}) = 1 THEN 3 ELSE ({ry}) END")
    d_expr = f"d + {s * s} * ({quad})"
    x_expr = (f"CASE WHEN ({ry}) = 0 THEN "
              f"(CASE WHEN ({rx}) = 1 THEN {s} - 1 - y ELSE y END) "
              f"ELSE x END")
    y_expr = (f"CASE WHEN ({ry}) = 0 THEN "
              f"(CASE WHEN ({rx}) = 1 THEN {s} - 1 - x ELSE x END) "
              f"ELSE y END")
    return d_expr, x_expr, y_expr


def _hilbert_oracle() -> str:
    ctes = ["h256 AS (SELECT x0 AS x, y0 AS y, 0 AS d, x0, y0"
            " FROM pts)"]
    prev = 256
    for s in [128, 64, 32, 16, 8, 4, 2, 1]:
        d_e, x_e, y_e = _hilbert_level_sql(s)
        ctes.append(
            f"h{s} AS (SELECT {x_e} AS x, {y_e} AS y, {d_e} AS d, "
            f"x0, y0 FROM h{prev})")
        prev = s
    return (
        "WITH pts AS (\n"
        "  SELECT o_custkey % 256 AS x0,\n"
        "         date_diff('day', DATE '1992-01-01',\n"
        "                   CAST(o_orderdate AS DATE)) % 256 AS y0\n"
        "  FROM orders),\n" + ",\n".join(ctes) + """
SELECT CAST(d >> 10 AS BIGINT) AS hbucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(min(x0) AS BIGINT) AS x_min, CAST(max(x0) AS BIGINT) AS x_max,
       CAST(min(y0) AS BIGINT) AS y_min, CAST(max(y0) AS BIGINT) AS y_max
FROM h1 GROUP BY 1
""")


@query("hilbert_layout", oracle=_hilbert_oracle())
def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve data layout — the stronger sibling of
    `zorder_layout`: the order-8 Hilbert index visits every cell of
    the 256×256 grid along a CONTINUOUS path (adjacent indexes are
    always adjacent cells). At power-of-4-aligned bucket granularity
    both curves tile perfectly (the stats here show identical 32×32
    tiles); Hilbert's edge is at ARBITRARY key ranges — consecutive
    buckets are spatially adjacent, so a range of buckets stays one
    compact region where Morton's seam jumps span the grid — which is
    why table formats added it after ZORDER. The xy→d transform is the standard 8-level rotate/reflect
    recurrence, unrolled into pure integer CASE/mask expressions
    (identical SQL text in both engines — every level's quadrant
    choice, reflection, and swap is hash-checked). Layout pass at
    scale = range-partition by the Hilbert key; this query
    materializes the bucket→tile statistics a pruning reader uses."""
    o = table(spark, "orders", sf_dir)
    df = o.select(
        (F.col("o_custkey") % 256).alias("x0"),
        (F.datediff(F.to_date("o_orderdate"),
                    F.lit("1992-01-01").cast("date")) % 256
         ).cast("long").alias("y0"))
    df = df.selectExpr("x0 AS x", "y0 AS y", "0 AS d", "x0", "y0")
    for s in [128, 64, 32, 16, 8, 4, 2, 1]:
        d_e, x_e, y_e = _hilbert_level_sql(s)
        df = df.selectExpr(f"{x_e} AS x", f"{y_e} AS y",
                           f"{d_e} AS d", "x0", "y0")
    return (df.groupBy(F.expr("d >> 10").cast("long").alias("hbucket"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.min("x0").cast("long").alias("x_min"),
                 F.max("x0").cast("long").alias("x_max"),
                 F.min("y0").cast("long").alias("y_min"),
                 F.max("y0").cast("long").alias("y_max")))


@query("stream_static_enrich", oracle="""
SELECT c.c_mktsegment AS segment, e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(e.value * 10000) AS BIGINT)) AS BIGINT)
         AS value_e4
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""")
def q_stream_static_enrich(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Stream-static enrichment join EXECUTED AS A STREAM: the events
    stream joins the static customer dimension (market segment) on
    every micro-batch — Structured Streaming's stream-static join,
    the standard enrich-then-aggregate topology (no state needed for
    the join side: the static table is just re-broadcast per batch).
    The running (segment, event_type) totals then live in the
    streaming aggregation state store (complete mode), and the final
    table must equal the batch join+aggregate (the oracle) — sums in
    exact e4 integer units so replay order can't drift. Scale: the
    dimension broadcasts (never shuffles the stream); aggregate state
    is O(|segments × types|)."""
    from map_reduce_mongodb_spark.streaming.windows import (
        run_to_memory_sink)
    sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", "8")
    stream = (sess.readStream
              .schema("event_id long, ts timestamp_ntz, user_id long,"
                      " event_type string, value double, props string")
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    dim = (table(sess, "customer", sf_dir)
           .select("c_custkey",
                   F.col("c_mktsegment").alias("segment")))
    enriched = stream.join(F.broadcast(dim),
                           stream.user_id == dim.c_custkey)
    agg = (enriched.groupBy("segment", "event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 10000).cast("long"))
                 .alias("value_e4")))
    run_to_memory_sink(agg, "stream_static_enrich_sink",
                       output_mode="complete")
    return sess.table("stream_static_enrich_sink")


@query("cdc_chunks", oracle=r"""
WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w
  FROM documents WHERE length(trim(text)) > 0),
b AS (
  SELECT doc_id, w, len(w) AS n,
         list_filter(generate_series(1, len(w) - 2),
             i -> substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
                         1, 1) = '0') AS bpos
  FROM d),
ch AS (
  SELECT doc_id, w, n,
         list_concat([1], list_transform(bpos, x -> x + 1)) AS starts,
         list_concat(bpos, [n]) AS ends
  FROM b),
chunks AS (
  SELECT doc_id,
         unnest(generate_series(1, len(starts))) AS chunk_idx,
         unnest(list_transform(generate_series(1, len(starts)),
             k -> ends[k] - starts[k] + 1)) AS n_words,
         unnest(list_transform(generate_series(1, len(starts)),
             k -> substr(md5(array_to_string(w[starts[k]:ends[k]],
                                             ' ')), 1, 8)))
           AS chunk_hash
  FROM ch),
shared AS (
  SELECT chunk_hash,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS shared_docs
  FROM chunks GROUP BY chunk_hash)
SELECT c.doc_id, CAST(c.chunk_idx AS INT) AS chunk_idx,
       CAST(c.n_words AS BIGINT) AS n_words, c.chunk_hash,
       s.shared_docs
FROM chunks c JOIN shared s USING (chunk_hash)
""")
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the Rabin/LBFS boundary scheme
    behind storage-level dedup and long-document shingle packing):
    a chunk boundary falls wherever the rolling 3-gram hash starts
    with hex '0' (P=1/16 → ~16-word mean chunks), so chunk
    boundaries RESYNCHRONIZE after edits — an insertion early in a
    document only perturbs its own chunk, and every other chunk
    hash still matches across near-identical docs (fixed-width
    chunking would shift every downstream chunk). Output is each
    chunk's hash + how many documents share it (the dedup-ratio
    signal). The whole chunker is JVM higher-order functions
    (filter/transform/slice over the word array — no Python, no
    per-word explode); the only shuffle is the chunk-hash count
    aggregate + its join back, both map-side combinable. The md5
    boundary predicate and chunk hashes are identical in both
    engines, so every boundary decision is hash-checked."""
    docs = table(spark, "documents", sf_dir) \
        .where(F.length(F.trim(F.col("text"))) > 0)
    d = docs.select(
        "doc_id",
        F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+").alias("w"))
    b = d.select(
        "doc_id", "w", F.size("w").alias("n"),
        F.expr(
            # sequence(1, 0) throws in Spark (DuckDB returns empty) —
            # guard docs shorter than one 3-gram
            "CASE WHEN size(w) < 3 THEN array() ELSE "
            "filter(sequence(1, size(w) - 2), i -> "
            "substr(md5(concat(element_at(w, i), ' ', "
            "element_at(w, i + 1), ' ', element_at(w, i + 2))), 1, 1)"
            " = '0') END").alias("bpos"))
    ch = b.select(
        "doc_id", "w", "n",
        F.expr("concat(array(1), transform(bpos, x -> x + 1))")
         .alias("starts"),
        F.expr("concat(bpos, array(n))").alias("ends"))
    chunks = (ch.select(
        "doc_id", "w", "starts", "ends",
        F.posexplode(F.expr("sequence(1, size(starts))"))
         .alias("_p", "chunk_idx"))
        .select(
            "doc_id", F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.expr("element_at(ends, chunk_idx)"
                   " - element_at(starts, chunk_idx) + 1")
             .cast("long").alias("n_words"),
            F.expr(
                "substr(md5(array_join(slice(w, "
                "element_at(starts, chunk_idx), "
                "element_at(ends, chunk_idx)"
                " - element_at(starts, chunk_idx) + 1), ' ')), 1, 8)")
             .alias("chunk_hash")))
    shared = (chunks.groupBy("chunk_hash")
              .agg(F.countDistinct("doc_id").alias("shared_docs")))
    return chunks.join(shared, "chunk_hash").select(
        "doc_id", "chunk_idx", "n_words", "chunk_hash", "shared_docs")


@query("events_decayed_engagement", oracle="""
WITH a AS (
  SELECT user_id,
         CAST(round(value * 10000) AS BIGINT) AS v_e4,
         least(12, greatest(0,
             24301 - (year(ts) * 12 + month(ts)))) AS age_m
  FROM events)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(v_e4 * (CAST(1 AS BIGINT) << (12 - age_m)))
            AS BIGINT) AS decayed_units
FROM a GROUP BY user_id
""")
def q_events_decayed_engagement(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Recency-weighted engagement score per user — time-decayed
    aggregation with a one-month half-life, the freshness weighting a
    training-data sampler applies to interaction logs. The decay
    weight 2^-age_months is EXACT integer arithmetic: values go to e4
    units, the weight becomes a left shift of (12 - clamped age), and
    the weighted sum is a plain BIGINT aggregate — so the result is
    order-independent and bit-identical (the float-decay pitfall —
    Σ v·exp(-λt) drifting with accumulation order — designed out).
    One map-side-combined aggregate keyed by user; the clamp bounds
    the shift so the per-row product fits int64 with 5 decimal
    orders to spare."""
    e = table(spark, "events", sf_dir)
    # month-boundary age (24301 = 2025*12 + 1, the reference month) —
    # explicit integer form because months_between is day-fractional
    # in Spark while DuckDB's date_diff counts boundary crossings
    age = F.least(
        F.lit(12), F.greatest(F.lit(0), F.expr(
            "24301 - (year(ts) * 12 + month(ts))").cast("int")))
    a = e.select(
        "user_id",
        F.round(F.col("value") * 10000).cast("long").alias("v_e4"),
        age.alias("age_m"))
    return (a.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("v_e4")
                       * F.expr("CAST(1 AS BIGINT) << (12 - age_m)"))
                 .cast("long").alias("decayed_units")))


@query("ivm_event_totals", oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
         AS s_e4,
       CAST(max(event_id % 4) AS INT) AS last_batch
FROM events GROUP BY event_type
""")
def q_ivm_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance, end to end: the events table is
    split into 4 CDC batches (event_id mod 4) and REPLAYED through
    Structured Streaming, each micro-batch folding its per-type
    partial aggregates (count, exact-integer e4 value sum, max batch
    id) into the state store via one full-outer combine join
    (streaming/ivm.py:additive_replay_stream). The oracle is the
    direct one-shot aggregate over everything — the IVM invariant:
    incremental state after replay ≡ batch recompute, exactly (sums
    are integers, so no accumulation-order drift). Per-epoch cost is
    O(|keys|) regardless of history; this is the streaming
    materialized-view pattern next to scd2_events_replay's
    latest-wins merge. Built once per process (cache.shared_parquet)
    like any streaming sink its consumers read."""
    import atexit
    import shutil
    import tempfile

    from map_reduce_mongodb_spark.cache import shared_parquet
    from map_reduce_mongodb_spark.streaming.ivm import (
        additive_replay_stream)

    def build() -> DataFrame:
        work = tempfile.mkdtemp(prefix="ivm_replay_")
        atexit.register(shutil.rmtree, work, ignore_errors=True)
        e = table(spark, "events", sf_dir)
        parts = e.select(
            "event_type",
            F.lit(1).cast("long").alias("n"),
            F.round(F.col("value") * 10000).cast("long").alias("s_e4"),
            (F.col("event_id") % 4).cast("int").alias("b"))
        batches = [parts.where(F.col("b") == i) for i in range(4)]
        return additive_replay_stream(batches, "event_type", work)

    out = shared_parquet(spark, f"ivm_totals_{sf_dir}", build)
    return out.select("event_type", "n", "s_e4",
                      F.col("b").alias("last_batch"))


@query("lang_median_doclen", oracle=r"""
WITH wc AS (
  SELECT lang,
         len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS words
  FROM documents),
vc AS (
  SELECT lang, words, CAST(count(*) AS BIGINT) AS c
  FROM wc GROUP BY 1, 2),
cum AS (
  SELECT lang, words, c,
         sum(c) OVER (PARTITION BY lang ORDER BY words
                      ROWS UNBOUNDED PRECEDING) AS cw,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM vc)
SELECT lang, CAST(n AS BIGINT) AS n_docs,
       CAST(min(words) AS BIGINT) AS median_words
FROM cum
WHERE cw >= (n + 1) // 2
GROUP BY lang, n
""")
def q_lang_median_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median (lower median) of document word count
    by language — grouped order statistics WITHOUT a data-sized
    per-group sort: collapse docs to (lang, words, count) first (the
    value-histogram aggregate — cardinality bounded by |langs| ×
    distinct lengths, not the corpus), then a cumulative count over
    that AGGREGATE finds the first value whose running count reaches
    rank ceil(n/2). At 100 TB the only fact-sized operation is the
    map-side-combined histogram aggregate; the windows run over the
    bounded histogram. (The global-exact sibling is
    `orders_running_quantile`'s rank-selection scan.)"""
    from map_reduce_mongodb_spark.functions import text as T
    d = table(spark, "documents", sf_dir)
    vc = (d.select("lang", T.word_count(F.col("text")).alias("words"))
          .groupBy("lang", "words")
          .agg(F.count(F.lit(1)).alias("c")))
    wcum = (Window.partitionBy("lang").orderBy("words")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy("lang")
    cum = (vc.withColumn("cw", F.sum("c").over(wcum))
           .withColumn("n", F.sum("c").over(wall)))
    return (cum.where(F.col("cw") >= F.expr("(n + 1) div 2"))
            .groupBy("lang", "n")
            .agg(F.min("words").cast("long").alias("median_words"))
            .select("lang", F.col("n").cast("long").alias("n_docs"),
                    "median_words"))


@query("dq_violations", oracle="""
SELECT 'ship_before_order' AS rule,
       CAST(count(*) AS BIGINT) AS n_violations
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate < o.o_orderdate
UNION ALL
SELECT 'nonpositive_price',
       CAST(count(*) AS BIGINT)
FROM lineitem WHERE l_extendedprice <= 0
UNION ALL
SELECT 'discount_out_of_range',
       CAST(count(*) AS BIGINT)
FROM lineitem WHERE l_discount < 0 OR l_discount > 0.5
UNION ALL
SELECT 'orphan_lineitem',
       CAST(count(*) AS BIGINT)
FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'duplicate_lineitem_key',
       CAST(coalesce(sum(c - 1), 0) AS BIGINT)
FROM (SELECT count(*) AS c FROM lineitem
      GROUP BY l_orderkey, l_linenumber) WHERE c > 1
""")
def q_dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: one pass of rule-violation counts —
    referential integrity (orphan lineitems via ANTI JOIN), temporal
    sanity (shipped before ordered), domain ranges (price, discount),
    and key uniqueness (duplicate (orderkey, linenumber)) — the
    contract-check gate a production pipeline runs before publishing
    a table. Each rule is its own aggregate branch unioned into a
    tall report; Spark shares the lineitem scan across branches and
    every branch is map-side-combinable. The temporal rule's join and
    the orphan anti-join shuffle on the same orderkey, so AQE plans
    them off one exchange at scale."""
    li = table(spark, "lineitem", sf_dir)
    o = table(spark, "orders", sf_dir)
    r1 = (li.join(o, li.l_orderkey == o.o_orderkey)
          .where(F.col("l_shipdate") < F.col("o_orderdate"))
          .agg(F.count(F.lit(1)).alias("n_violations"))
          .select(F.lit("ship_before_order").alias("rule"),
                  "n_violations"))
    r2 = (li.where(F.col("l_extendedprice") <= 0)
          .agg(F.count(F.lit(1)).alias("n_violations"))
          .select(F.lit("nonpositive_price").alias("rule"),
                  "n_violations"))
    r3 = (li.where((F.col("l_discount") < 0)
                   | (F.col("l_discount") > 0.5))
          .agg(F.count(F.lit(1)).alias("n_violations"))
          .select(F.lit("discount_out_of_range").alias("rule"),
                  "n_violations"))
    r4 = (li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
          .agg(F.count(F.lit(1)).alias("n_violations"))
          .select(F.lit("orphan_lineitem").alias("rule"),
                  "n_violations"))
    r5 = (li.groupBy("l_orderkey", "l_linenumber")
          .agg(F.count(F.lit(1)).alias("c"))
          .where(F.col("c") > 1)
          .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
               .cast("long").alias("n_violations"))
          .select(F.lit("duplicate_lineitem_key").alias("rule"),
                  "n_violations"))
    return r1.unionByName(r2).unionByName(r3).unionByName(r4) \
        .unionByName(r5)


@query("revenue_gini", oracle="""
WITH m AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey),
r AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, o_custkey) AS rnk
  FROM m),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS tot,
         CAST(sum(rnk * cents) AS BIGINT) AS wsum
  FROM r)
SELECT n AS n_customers,
       round((2.0 * wsum) / (CAST(n AS DOUBLE) * tot)
             - (CAST(n AS DOUBLE) + 1.0) / n, 6) AS gini
FROM s
""")
def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer lifetime spend — the
    inequality/concentration metric behind "how head-heavy is this
    corpus/revenue base" (same math scores token-count concentration
    across sources). Uses the rank formula G = 2·Σ(rank·x)/(n·Σx) −
    (n+1)/n, which needs every customer's GLOBAL rank by spend: that
    rank is `distributed_cumsum` of 1s over the (cents, custkey)
    total order — the range-partitioned two-pass scan, so no
    single-partition sort over the customer base. Spend is summed in
    exact integer cents (no float accumulation); the two final
    divisions are the only doubles and round to 6dp. Output is one
    row — the aggregate shuffles collapse to a scalar."""
    from map_reduce_mongodb_spark.operators.prefix import (
        distributed_cumsum)
    o = table(spark, "orders", sf_dir)
    m = (o.groupBy("o_custkey")
         .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                    .cast("long")).alias("cents")))
    ranked = distributed_cumsum(
        m, [F.asc("cents"), F.asc("o_custkey")],
        F.lit(1).cast("long"), "rnk")
    s = ranked.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("cents").alias("tot"),
                   F.sum(F.col("rnk") * F.col("cents")).alias("wsum"))
    return s.select(
        F.col("n").alias("n_customers"),
        F.round((2.0 * F.col("wsum"))
                / (F.col("n").cast("double") * F.col("tot"))
                - (F.col("n").cast("double") + 1.0) / F.col("n"), 6)
         .alias("gini"))


@query("source_quality_ttest", oracle="""
WITH d AS (
  SELECT source, n_chars FROM documents),
per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_chars) AS BIGINT) AS s,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
  FROM d GROUP BY source),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(s) AS BIGINT) AS ts,
         CAST(sum(ss) AS BIGINT) AS tss
  FROM per)
SELECT source, n AS n_docs,
       round(CAST(s AS DOUBLE) / n, 4) AS mean_chars,
       round((CAST(s AS DOUBLE) / n
              - CAST(ts - s AS DOUBLE) / (tn - n))
             / sqrt((CAST(ss AS DOUBLE) / n
                     - (CAST(s AS DOUBLE) / n)
                       * (CAST(s AS DOUBLE) / n)) / (n - 1)
                    + (CAST(tss - ss AS DOUBLE) / (tn - n)
                       - (CAST(ts - s AS DOUBLE) / (tn - n))
                         * (CAST(ts - s AS DOUBLE) / (tn - n)))
                      / (tn - n - 1)), 4) AS welch_t
FROM per, tot
""")
def q_source_quality_ttest(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Per-source Welch t-statistic of document length against the
    REST of the corpus — the two-sample test behind "is this source's
    quality distribution drifting?" (the continuous-metric sibling of
    `lang_source_chi2`'s categorical test). One map-side-combined
    aggregate collects exact integer moments (n, Σx, Σx²) per source;
    the complement's moments come from the broadcast corpus totals by
    subtraction — no second scan, no per-pair shuffle. All float math
    happens on identical integer inputs in the identical expression
    order, rounded at 4dp. Output cardinality = |sources|."""
    d = table(spark, "documents", sf_dir)
    per = (d.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("n_chars").alias("s"),
                F.sum(F.col("n_chars") * F.col("n_chars")).alias("ss")))
    tot = per.agg(F.sum("n").alias("tn"), F.sum("s").alias("ts"),
                  F.sum("ss").alias("tss"))
    j = per.crossJoin(F.broadcast(tot))
    mean = F.col("s").cast("double") / F.col("n")
    rmean = (F.col("ts") - F.col("s")).cast("double") \
        / (F.col("tn") - F.col("n"))
    var = (F.col("ss").cast("double") / F.col("n") - mean * mean) \
        / (F.col("n") - 1)
    rvar = ((F.col("tss") - F.col("ss")).cast("double")
            / (F.col("tn") - F.col("n")) - rmean * rmean) \
        / (F.col("tn") - F.col("n") - 1)
    return j.select(
        "source", F.col("n").alias("n_docs"),
        F.round(mean, 4).alias("mean_chars"),
        F.round((mean - rmean) / F.sqrt(var + rvar), 4)
         .alias("welch_t"))


@query("inflight_sweepline", oracle="""
WITH ev AS (
  SELECT CAST(o.o_orderdate AS DATE) AS day, 1 AS delta
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT CAST(l_shipdate AS DATE) + 1 AS day, -1 AS delta
  FROM lineitem),
d AS (SELECT day, CAST(sum(delta) AS BIGINT) AS delta
      FROM ev GROUP BY day)
SELECT CAST(day AS TIMESTAMP) AS day,
       CAST(sum(delta) OVER (ORDER BY day
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS open_lineitems
FROM d
""")
def q_inflight_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-concurrency via sweep-line: how many lineitems are
    IN FLIGHT (ordered but not yet shipped) on each calendar day. The
    naive plan explodes every interval into its covered days
    (O(rows × interval length) — a scale killer); the sweep-line
    instead emits two DELTA events per interval (+1 at order day, -1
    the day after ship), aggregates deltas per day (map-side
    combined, one shuffle keyed by day), and prefix-sums the deltas.
    The running sum operates on the DAY-AGGREGATED table — calendar-
    bounded (~2.5k rows at any corpus size), so the window is over an
    aggregate, never the fact table; the only fact-sized operations
    are the orderkey equi-join and the delta aggregation."""
    li = table(spark, "lineitem", sf_dir)
    o = table(spark, "orders", sf_dir)
    starts = (li.join(o, li.l_orderkey == o.o_orderkey)
              .select(F.to_date("o_orderdate").alias("day"),
                      F.lit(1).alias("delta")))
    ends = li.select(F.date_add(F.to_date("l_shipdate"), 1)
                     .alias("day"), F.lit(-1).alias("delta"))
    d = (starts.unionByName(ends)
         .groupBy("day").agg(F.sum("delta").alias("delta")))
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return d.select(
        # NTZ, not LTZ: DATE→TIMESTAMP consults the session zone, and a
        # calendar day whose local midnight falls in a DST gap shifts
        # +1h (caught by the r8 TZ=America/Sao_Paulo sweep: Brazil's
        # 1995-10-15 / 1996-10-06 spring-forwards happened AT midnight,
        # so those two days rendered 01:00 vs the oracle's naive 00:00).
        F.col("day").cast("timestamp_ntz").alias("day"),
        F.sum("delta").over(w).cast("long").alias("open_lineitems"))


# =====================================================================
# Round-5 continuation: grouped quantiles, equi-depth histograms,
# graph-centrality variants, sorted-neighborhood ER, passage-level
# dedup, watermark lateness accounting, cohort retention
# =====================================================================


@query("lang_doclen_deciles", oracle=r"""
WITH wc AS (
  SELECT lang, len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS words
  FROM documents),
vc AS (SELECT lang, words, CAST(count(*) AS BIGINT) AS c
       FROM wc GROUP BY 1, 2),
cum AS (
  SELECT lang, words, c,
         sum(c) OVER (PARTITION BY lang ORDER BY words
                      ROWS UNBOUNDED PRECEDING) AS cw,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM vc),
ks AS (SELECT unnest(range(1, 10)) AS k)
SELECT lang, CAST(k AS INT) AS decile,
       CAST(min(words) AS BIGINT) AS words
FROM cum CROSS JOIN ks
WHERE cw >= (k * n + 9) // 10
GROUP BY lang, k
""")
def q_lang_doclen_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group decile profile (d1..d9) of document word count
    by language — the full-CDF generalization of
    `lang_median_doclen`'s single order statistic, same scale shape:
    collapse docs to a (lang, words, count) histogram first (the only
    fact-sized operation, map-side combined), run the cumulative
    windows over that BOUNDED aggregate, then broadcast-cross the
    9-row decile table and pick each decile as the first value whose
    running count reaches rank ceil(k·n/10) (integer arithmetic in
    both engines — see NOTES_r5 on div)."""
    from map_reduce_mongodb_spark.functions import text as T
    d = table(spark, "documents", sf_dir)
    vc = (d.select("lang", T.word_count(F.col("text")).alias("words"))
          .groupBy("lang", "words").agg(F.count(F.lit(1)).alias("c")))
    wcum = (Window.partitionBy("lang").orderBy("words")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy("lang")
    cum = (vc.withColumn("cw", F.sum("c").over(wcum))
           .withColumn("n", F.sum("c").over(wall)))
    ks = spark.range(1, 10).select(F.col("id").cast("int").alias("k"))
    return (cum.crossJoin(F.broadcast(ks))
            .where(F.col("cw") >= F.expr("(k * n + 9) div 10"))
            .groupBy("lang", "k")
            .agg(F.min("words").cast("long").alias("words"))
            .select("lang", F.col("k").alias("decile"), "words"))


@query("equidepth_histogram", oracle="""
WITH r AS (
  SELECT o_totalprice,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rk,
         count(*) OVER () AS n
  FROM orders)
SELECT CAST(((rk - 1) * 10) // n + 1 AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM r GROUP BY 1
""")
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH (equal-count) 10-bucket histogram of order value —
    the statistic optimizers and range-partitioners actually want
    (equi-width histograms mislead on skew). Bucket membership needs
    each row's GLOBAL rank; the oracle's row_number window would be a
    single-partition sort in Spark, so the rank comes from
    `operators/prefix.py:distributed_cumsum` of 1s over the
    (price, orderkey) total order — two shuffles, no serial stage —
    and bucket = ((rank-1)·10) div n with the row count joined in as
    a broadcast scalar. Bucket edges (min/max per bucket) are exact
    per-row doubles, so no rounding is needed."""
    from map_reduce_mongodb_spark.operators.prefix import (
        distributed_cumsum)
    o = table(spark, "orders", sf_dir).select(
        "o_totalprice", "o_orderkey")
    rk = distributed_cumsum(
        o, [F.col("o_totalprice"), F.col("o_orderkey")],
        F.lit(1).cast("bigint"), "rk")
    n = o.agg(F.count(F.lit(1)).alias("n"))
    return (rk.crossJoin(F.broadcast(n))
            .withColumn("bucket",
                        F.expr("((rk - 1) * 10) div n + 1").cast("int"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.min("o_totalprice").alias("min_price"),
                 F.max("o_totalprice").alias("max_price")))


def _ppr_oracle(iters: int = 4) -> str:
    """Unrolled personalized PageRank over the _CC_CTE edge set:
    teleport mass goes ONLY to the seed set (every 10th doc id), so
    rank measures proximity to the seeds rather than global
    centrality. Same chained-CTE unrolling as _pagerank_oracle."""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
pr{k} AS (
  SELECT e.dst AS id,
         CASE WHEN e.dst % 10 = 0 THEN 0.15 / ns.n ELSE 0.0 END
         + 0.85 * sum(p.r / d.d) AS r
  FROM edges e
  JOIN pr{k - 1} p ON e.src = p.id
  JOIN deg d ON d.src = e.src
  CROSS JOIN ns
  GROUP BY e.dst, ns.n)""")
    return _CC_CTE + f"""
, deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d
          FROM edges GROUP BY src),
ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg
       WHERE src % 10 = 0),
pr0 AS (SELECT src AS id,
               CASE WHEN src % 10 = 0 THEN 1.0 / ns.n ELSE 0.0 END AS r
        FROM deg CROSS JOIN ns),
{','.join(steps)}
SELECT id AS doc_id, round(r, 6) AS ppr FROM pr{iters}
"""


@query("dup_graph_ppr", oracle=_ppr_oracle())
def q_dup_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank from the audited seed set (every 10th
    doc id) over the near-dup graph — the probabilistic sibling of
    `dup_graph_bfs`: instead of hop counts, a stationary score of
    "how much of a random surfer's time (restarting at known-bad
    seeds) lands on this document". Same shuffle-based power
    iteration as `dup_graph_pagerank` (join ranks to edges, keyed
    sum, 4 fixed rounds, lineage cut per round, no driver state);
    only the teleport vector changes — base mass is 0.15/|S| on
    seeds and 0 elsewhere, with |S| a broadcast scalar. Reads the
    once-materialized 0.7-Jaccard pair table; the oracle unrolls the
    identical 4 iterations, and 6dp rounding absorbs the ~1e-13
    cross-engine float drift (measured for the pagerank twin)."""
    from map_reduce_mongodb_spark.cache import tracked_persist
    pairs = _jaccard_pairs_07(spark, sf_dir).select("id_a", "id_b")
    sym = symmetrize(pairs)
    deg = sym.groupBy("id_a").agg(
        F.count(F.lit(1)).cast("double").alias("deg"))
    nodes = deg.select(F.col("id_a").alias("id"))
    ns = (nodes.where(F.col("id") % 10 == 0)
          .agg(F.count(F.lit(1)).cast("double").alias("n_seeds")))
    seed = F.col("id") % 10 == 0
    base = tracked_persist(
        nodes.crossJoin(F.broadcast(ns))
        .select("id",
                F.when(seed, F.lit(0.15) / F.col("n_seeds"))
                 .otherwise(F.lit(0.0)).alias("base"),
                F.when(seed, F.lit(1.0) / F.col("n_seeds"))
                 .otherwise(F.lit(0.0)).alias("r0")))
    edges_deg = tracked_persist(sym.join(deg, "id_a"))
    ranks = base.select("id", F.col("r0").alias("r"))
    for _ in range(4):
        contrib = (edges_deg
                   .join(ranks.withColumnRenamed("id", "id_a"), "id_a")
                   .groupBy(F.col("id_b").alias("id"))
                   .agg(F.sum(F.col("r") / F.col("deg"))
                        .alias("contrib")))
        nxt = checkpoint_leaf(
            base.join(contrib, "id", "left")
            .select("id",
                    (F.col("base") + F.lit(0.85)
                     * F.coalesce("contrib", F.lit(0.0))).alias("r")))
        release_leaf(ranks)
        ranks = nxt
    return ranks.select(F.col("id").alias("doc_id"),
                        F.round("r", 6).alias("ppr"))


@query("dup_graph_degree_hist", oracle=_CC_CTE + """
, deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
          FROM edges GROUP BY src)
SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree
""")
def q_dup_graph_degree_hist(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Degree distribution of the near-dup graph — the one-glance
    shape diagnostic (a heavy tail means template/boilerplate hubs;
    a flat histogram means isolated near-pairs) that decides whether
    hub-handling (skew salting, hub capping) is needed before the
    heavier graph passes. Two map-side-combined aggregates over the
    shared 0.7-Jaccard pair table; output is bounded by the max
    degree."""
    pairs = _jaccard_pairs_07(spark, sf_dir).select("id_a", "id_b")
    sym = symmetrize(pairs)
    deg = sym.groupBy("id_a").agg(F.count(F.lit(1)).alias("degree"))
    return (deg.groupBy("degree")
            .agg(F.count(F.lit(1)).alias("n_nodes")))


@query("sorted_neighborhood_pairs", oracle="""
WITH r AS (
  SELECT p_partkey, p_name,
         row_number() OVER (ORDER BY p_name, p_partkey) AS rk
  FROM part)
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
FROM r a JOIN r b ON b.rk - a.rk BETWEEN 1 AND 2
WHERE levenshtein(a.p_name, b.p_name) <= 3
""")
def q_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Sorted-neighborhood entity resolution (Hernández–Stolfo): sort
    records by the match key, compare each record only to its w=2
    successors in the sorted order — the linear-candidate alternative
    to `fuzzy_name_match`'s hash blocking (sorted-neighborhood
    catches near-misses that straddle block boundaries; blocking
    catches pairs far apart in sort order — production ER runs both
    passes). The global rank comes from `distributed_cumsum` (no
    single-partition row_number), and the neighbor join is a
    grid-style bucket equi-join: bucket = rank div w, probe side
    explodes to (bucket, bucket+1) — the 1-D version of the spatial
    grid join's probe×neighbors pattern — then the exact rank-
    distance and edit-distance filters run inside hash-join
    partitions. The oracle's self-join over row_number yields the
    identical pair set."""
    from map_reduce_mongodb_spark.operators.prefix import (
        distributed_cumsum)
    w = 2
    p = table(spark, "part", sf_dir).select("p_partkey", "p_name")
    r = distributed_cumsum(
        p, [F.col("p_name"), F.col("p_partkey")],
        F.lit(1).cast("bigint"), "rk")
    r = r.withColumn("b", F.expr(f"rk div {w}"))
    a = r.select(F.col("p_partkey").alias("key_a"),
                 F.col("p_name").alias("name_a"),
                 F.col("rk").alias("rk_a"),
                 F.explode(F.array(F.col("b"), F.col("b") + 1))
                  .alias("pb"))
    b = r.select(F.col("p_partkey").alias("key_b"),
                 F.col("p_name").alias("name_b"),
                 F.col("rk").alias("rk_b"),
                 F.col("b").alias("pb"))
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (a.join(b, "pb")
            .where((F.col("rk_b") - F.col("rk_a")).between(1, w))
            .where(dist <= 3)
            .select("key_a", "key_b", "name_a", "name_b",
                    dist.cast("int").alias("edit_dist")))


@query("dup_passages", oracle=r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS ws
           FROM documents),
c AS (SELECT doc_id,
             unnest(range(0, CAST(len(ws) // 10 AS BIGINT))) AS ci,
             ws
      FROM w),
ch AS (SELECT doc_id,
              array_to_string(ws[ci*10+1 : ci*10+10], ' ') AS passage
       FROM c)
SELECT passage,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM ch GROUP BY passage
HAVING count(DISTINCT doc_id) >= 2
""")
def q_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level duplication: split every document into
    non-overlapping 10-word passages and surface passages that recur
    across ≥2 documents — the sub-document granularity the whole-doc
    dedup family (exact/minhash/simhash) can't see, and the standard
    pre-training leak check for boilerplate/quotation spans. One
    explode (array slice per chunk index — no per-row Python), one
    hash aggregate keyed by passage text; at 100 TB the group key
    would be the passage's 128-bit hash instead of the string
    (identical plan shape, already proven by the xxhash64 dedup
    twins), and the aggregate is map-side combined. Short documents
    (<10 words) produce no passages in either engine."""
    from map_reduce_mongodb_spark.functions import text as T
    d = table(spark, "documents", sf_dir)
    ws = (d.select("doc_id", T.words(F.col("text")).alias("ws"))
          .where(F.size("ws") >= 10))
    ch = (ws.select(
            "doc_id",
            F.explode(F.sequence(
                F.lit(0),
                (F.floor(F.size("ws") / 10) - 1).cast("int")))
             .alias("ci"),
            "ws")
          .select("doc_id",
                  F.array_join(
                      F.slice(F.col("ws"), F.col("ci") * 10 + 1, 10),
                      " ").alias("passage")))
    return (ch.groupBy("passage")
            .agg(F.count_distinct(F.col("doc_id")).alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occurrences"),
                 F.min("doc_id").alias("first_doc"))
            .where(F.col("n_docs") >= 2))


@query("dup_shared_token_runs", oracle=r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS ws
           FROM documents),
g AS (SELECT doc_id,
             unnest(range(1, CAST(len(ws) - 6 AS BIGINT))) AS pos, ws
      FROM w WHERE len(ws) >= 8),
p AS (SELECT doc_id, pos,
             array_to_string(ws[pos:pos+7], ' ') AS gram
      FROM g),
k AS (SELECT * FROM (
        SELECT doc_id, pos, gram,
               count(*) OVER (PARTITION BY gram) AS gram_df
        FROM p)
      WHERE gram_df <= 50),
m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.pos AS pa, a.pos - b.pos AS d
      FROM k a JOIN k b ON a.gram = b.gram AND a.doc_id < b.doc_id),
r AS (SELECT id_a, id_b, d, pa,
             pa - row_number() OVER (PARTITION BY id_a, id_b, d
                                     ORDER BY pa) AS grp
      FROM m),
runs AS (SELECT id_a, id_b,
                CAST(count(*) + 7 AS BIGINT) AS run_tokens
         FROM r GROUP BY id_a, id_b, d, grp)
SELECT id_a, id_b,
       CAST(max(run_tokens) AS BIGINT) AS max_run_tokens,
       CAST(count(*) AS BIGINT) AS n_runs
FROM runs WHERE run_tokens >= 15
GROUP BY id_a, id_b
""")
def q_dup_shared_token_runs(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Exact shared-substring dedup measure (the suffix-array dedup
    statistic from Lee et al. 2021, distributed): longest run of
    consecutive tokens shared between any two documents at ANY
    alignment, via positional 8-gram seeds joined inverted-index
    style and merged along diagonals with gaps-and-islands — no
    global suffix array, no iterative pass. `dup_passages` only sees
    chunk-ALIGNED copies; this sees every alignment, which is what
    actual training-data contamination looks like. Grams posted in
    more than 50 positions corpus-wide are dropped on BOTH sides
    (the stop-shingle cap bounding join fanout at scale; a run
    through a dropped gram reports as two shorter runs)."""
    from map_reduce_mongodb_spark.operators.dedup import (
        shared_token_runs)
    return shared_token_runs(table(spark, "documents", sf_dir),
                             gram_n=8, min_run_tokens=15,
                             max_gram_df=50)


@query("watermark_late_events", oracle="""
WITH a AS (
  SELECT event_id, ts, event_type,
         max(ts) OVER (ORDER BY (event_id * 48271) % 100003, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS wm
  FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_late,
       CAST(min(event_id) AS BIGINT) AS first_late_event
FROM a
WHERE ts < wm - INTERVAL 10 MINUTE
GROUP BY event_type
""")
def q_watermark_late_events(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Watermark-lateness audit: how many events WOULD be dropped by
    a 10-minute event-time watermark — the capacity-planning question
    behind every `withWatermark` threshold choice, answered in batch
    over the historical log. Arrival order is simulated by a
    deterministic multiplicative permutation of event_id (the log
    itself is stored in event-time order, so its physical order has
    no lateness; the LCG-style shuffle (id·48271 mod 100003, id)
    reproduces network reordering identically in both engines with
    pure integer arithmetic). The running watermark = max event time
    over all STRICTLY EARLIER arrivals is `distributed_cummax_
    exclusive` — the prefix-scan operator, not a single-partition
    window — and an event is late iff its time precedes the
    watermark minus the threshold."""
    from map_reduce_mongodb_spark.operators.prefix import (
        distributed_cummax_exclusive)
    e = (table(spark, "events", sf_dir)
         .select("event_id", "ts", "event_type",
                 ((F.col("event_id") * 48271) % 100003).alias("arr")))
    wm = distributed_cummax_exclusive(
        e, [F.col("arr"), F.col("event_id")], F.col("ts"), "wm")
    late = wm.where(
        F.col("ts") < F.col("wm") - F.expr("INTERVAL 10 MINUTE"))
    return (late.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_late"),
                 F.min("event_id").alias("first_late_event")))


@query("user_retention_weekly", oracle="""
WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
           FROM events GROUP BY user_id),
a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
      FROM events)
SELECT CAST(f.cohort AS TIMESTAMP) AS cohort_week,
       CAST(date_diff('day', CAST(f.cohort AS DATE),
                      CAST(a.wk AS DATE)) // 7 AS INT) AS weeks_later,
       CAST(count(*) AS BIGINT) AS n_users
FROM f JOIN a USING (user_id)
GROUP BY 1, 2
""")
def q_user_retention_weekly(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week,
    counted in each subsequent week they return — the
    product-analytics triangle chart. Two fact-sized aggregates
    (first-event per user, distinct user-weeks — both map-side
    combined, shuffled on user_id) and one equi-join on user_id that
    AQE can plan off the same exchange; output is |cohorts| ×
    |weeks|. Week arithmetic stays integer (day difference div 7 of
    Monday-truncated dates — both engines truncate weeks to ISO
    Monday; NEVER months_between, see NOTES_r5)."""
    e = table(spark, "events", sf_dir)
    f = (e.groupBy("user_id")
         .agg(F.date_trunc("week", F.min("ts")).alias("cohort")))
    a = (e.select("user_id",
                  F.date_trunc("week", F.col("ts")).alias("wk"))
         .distinct())
    return (f.join(a, "user_id")
            .groupBy(
                F.col("cohort").cast("timestamp_ntz").alias("cohort_week"),
                F.expr("datediff(cast(wk as date), "
                       "cast(cohort as date)) div 7")
                 .cast("int").alias("weeks_later"))
            .agg(F.count(F.lit(1)).alias("n_users")))


@query("lang_token_fertility", oracle=r"""
WITH w AS (
  SELECT lang, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS word
  FROM documents),
per AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS tokens,
         CAST(count(DISTINCT word) AS BIGINT) AS types,
         CAST(sum(len(word)) AS BIGINT) AS chars
  FROM w GROUP BY lang),
d AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang)
SELECT lang, n_docs, tokens, types,
       round(CAST(chars AS DOUBLE) / tokens, 6) AS avg_word_len,
       round(CAST(types AS DOUBLE) / tokens, 6) AS type_token_ratio,
       round(CAST(tokens AS DOUBLE) / n_docs, 6) AS tokens_per_doc
FROM per JOIN d USING (lang)
""")
def q_lang_token_fertility(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Per-language tokenizer-planning profile: token counts, type
    counts (exact distinct), mean word length, type-token ratio, and
    tokens per document — the aggregate table a tokenizer-training
    run reads to set per-language vocab budgets (the upstream of
    `token_budget_allocator`). One explode + two map-side-combined
    aggregates; the per-language join is broadcast-sized (|langs|
    rows). All ratios are double divisions of exact integer moments
    in identical operand order, rounded 6dp."""
    from map_reduce_mongodb_spark.functions import text as T
    d = table(spark, "documents", sf_dir)
    w = d.select("lang", F.explode(T.words(F.col("text"))).alias("word"))
    per = (w.groupBy("lang")
           .agg(F.count(F.lit(1)).alias("tokens"),
                F.count_distinct(F.col("word")).alias("types"),
                F.sum(F.length("word")).alias("chars")))
    nd = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return (per.join(F.broadcast(nd), "lang")
            .select("lang", "n_docs", "tokens", "types",
                    F.round(F.col("chars").cast("double")
                            / F.col("tokens"), 6).alias("avg_word_len"),
                    F.round(F.col("types").cast("double")
                            / F.col("tokens"), 6)
                     .alias("type_token_ratio"),
                    F.round(F.col("tokens").cast("double")
                            / F.col("n_docs"), 6)
                     .alias("tokens_per_doc")))


@query("heavy_hitters_mg", oracle=r"""
WITH w AS (
  SELECT unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS word
  FROM documents),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w)
SELECT word, CAST(count(*) AS BIGINT) AS freq,
       round(CAST(count(*) AS DOUBLE) / n, 6) AS share
FROM w, tot
GROUP BY word, n
HAVING count(*) * 51 > n
""")
def q_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters (tokens with frequency > n/51)
    through a space-bounded two-phase plan: per-partition Misra-Gries
    summaries (k=50 counters, Arrow-batched — a provable SUPERSET of
    the true heavy hitters, see operators/sketches.py) produce a tiny
    candidate set; candidates broadcast-semi-join back and are
    recounted exactly, so the final integer filter freq·51 > n gives
    the same answer as a full hash aggregate — but the aggregate's
    key space is bounded by #partitions·k instead of the vocabulary,
    the property that matters when the item universe (URLs, n-grams,
    user ids) dwarfs memory at 100 TB. The oracle is the direct
    HAVING-threshold aggregate."""
    from map_reduce_mongodb_spark.functions import text as T
    from map_reduce_mongodb_spark.operators.sketches import (
        exact_heavy_hitters)
    d = table(spark, "documents", sf_dir)
    tokens = d.select(F.explode(T.words(F.col("text"))).alias("word"))
    return exact_heavy_hitters(tokens, "word", k=50)


@query("nsw_topk")  # no oracle: beam search over an incrementally
# built graph isn't SQL-reproducible; gated closed-loop instead —
# nsw_probe_all (below) is hash-checked ≡ brute force, and recall /
# determinism / connectivity gates live in tests/test_similarity.py.
def q_nsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN top-5 (navigable-small-world, Malkov et al.): each
    logical shard builds an NSW graph over its vectors (incremental
    insertion, beam-searched links, degree-bounded with protected
    spanning edges), queries beam-search every shard from a fixed
    entry, and one exact JVM-side cosine re-rank merges the shard
    candidates — the graph-index member of the ANN family (brute
    force → LSH → IVF → IVF+k-means → PQ/ADC → graph), sharded the
    way production vector stores scale HNSW. The Python stage only
    NOMINATES candidate ids; every reported cosine comes from the
    same unrolled SQL expression the oracle family uses."""
    from map_reduce_mongodb_spark.operators.similarity import nsw_topk
    return nsw_topk(table(spark, "embeddings", sf_dir),
                    query_ids=list(range(10)), k=5)


@query("nsw_probe_all", oracle=_cosine_topk_oracle())
def q_nsw_probe_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NSW exactness gate: beam search widened to the full
    reachable component, which the builder's never-pruned spanning
    edges make the ENTIRE shard (self-checked by an assert inside
    the UDF) — so the candidate union is provably the whole corpus
    and the exact re-rank is provably brute-force top-k for ANY
    graph parameters; hash-checked against the brute-force cosine
    oracle (the ivf_kmeans_probe_all / pq_rerank_all closed-loop
    pattern applied to the graph index)."""
    from map_reduce_mongodb_spark.operators.similarity import nsw_topk
    return nsw_topk(table(spark, "embeddings", sf_dir),
                    query_ids=list(range(10)), k=5, probe_all=True)


@query("scd2_snapshot_diff", oracle=_SCD2_DIM_CTE + """
SELECT a.user_id,
       a.tier AS tier_t1, b.tier AS tier_t2,
       a.version AS version_t1, b.version AS version_t2
FROM dim a JOIN dim b USING (user_id)
WHERE a.valid_from <= TIMESTAMP '2024-01-15'
  AND (a.valid_to IS NULL OR a.valid_to > TIMESTAMP '2024-01-15')
  AND b.valid_from <= TIMESTAMP '2024-01-25'
  AND (b.valid_to IS NULL OR b.valid_to > TIMESTAMP '2024-01-25')
  AND a.version <> b.version
""")
def q_scd2_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel consumer of the SCD2 dimension: which users'
    attributes CHANGED between two as-of instants (Jan 15 → Jan 25)
    — the snapshot-diff read every table format (Delta CDF, Iceberg
    changelog) exists to answer, expressed against the versioned
    dimension the streaming replay maintains. An AS-OF state is a
    pure filter on the validity interval (valid_from ≤ T < valid_to),
    so the diff is two filters + one user-keyed self-join of the
    ALREADY-MATERIALIZED replay output (cache.shared_parquet — built
    once by `scd2_events_replay`, read here; at 100 TB this is
    exactly a second reader of the dimension table, not a second
    replay). The oracle runs the same two as-of selections over the
    relationally reconstructed version chain."""
    dim = _scd2_replay_dim(spark, sf_dir)

    def asof(t: str, suffix: str) -> DataFrame:
        return (dim.where(
                    (F.col("valid_from") <= F.lit(t).cast("timestamp_ntz"))
                    & (F.col("valid_to").isNull()
                       | (F.col("valid_to")
                          > F.lit(t).cast("timestamp_ntz"))))
                .select("user_id",
                        F.col("tier").alias(f"tier_{suffix}"),
                        F.col("version").alias(f"version_{suffix}")))

    a = asof("2024-01-15", "t1")
    b = asof("2024-01-25", "t2")
    return (a.join(b, "user_id")
            .where(F.col("version_t1") != F.col("version_t2"))
            .select("user_id", "tier_t1", "tier_t2",
                    "version_t1", "version_t2"))


@query("event_transition_matrix", oracle="""
WITH s AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events),
t AS (SELECT event_type AS from_type, next_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT from_type, sum(n) AS tn FROM t GROUP BY 1)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE) / tn, 6) AS prob
FROM t JOIN tot USING (from_type)
""")
def q_event_transition_matrix(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """First-order Markov transition matrix of user behaviour: for
    every (event_type → next event_type) step in each user's
    timeline, the count and row-normalized probability — the
    path-analysis primitive behind journey maps and next-action
    models. The sequence window partitions by USER (bounded per-user
    work, shuffle keyed by user_id — never a global order), the
    transition aggregate is map-side combined and |types|² bounded,
    and the normalizing row-total joins back broadcast-sized."""
    e = table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select("user_id", "event_type",
                 F.lead("event_type").over(w).alias("next_type"))
    t = (s.where(F.col("next_type").isNotNull())
         .groupBy(F.col("event_type").alias("from_type"),
                  F.col("next_type").alias("to_type"))
         .agg(F.count(F.lit(1)).alias("n")))
    tot = t.groupBy("from_type").agg(F.sum("n").alias("tn"))
    return (t.join(F.broadcast(tot), "from_type")
            .select("from_type", "to_type", "n",
                    F.round(F.col("n").cast("double")
                            / F.col("tn"), 6).alias("prob")))


@query("user_activity_bitmap", oracle="""
WITH d AS (
  SELECT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di
  FROM events
  WHERE date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        BETWEEN 0 AND 63),
m AS (
  SELECT user_id,
         bit_or(CASE WHEN di = 63 THEN -9223372036854775807 - 1
                     ELSE CAST(1 AS BIGINT) << di END)
           AS activity_mask,
         CAST(min(di) AS INT) AS first_day,
         CAST(max(di) AS INT) AS last_day
  FROM d GROUP BY user_id)
SELECT user_id, activity_mask,
       CAST(bit_count(activity_mask) AS INT) AS days_active,
       first_day, last_day
FROM m
""")
def q_user_activity_bitmap(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Per-user activity BITMAP over the event month: day-of-month
    presence packed into one int64 via a `bit_or` aggregate (bit i =
    active on day i), plus popcount and first/last-day bounds — the
    roaring-bitmap-style encoding engagement systems use so segment
    algebra (AND/OR of user sets, streak math) becomes integer ops
    instead of joins. One map-side-combined aggregate (bit_or is
    commutative/associative — partial masks merge exactly); a year+
    horizon shards the mask by epoch-month into an array of int64
    lanes, same plan shape. Pure integer arithmetic in both
    engines.

    The window is EXPLICITLY bounded to di ∈ [0, 63] on both sides
    (r9 review): outside it the engines silently diverge — Spark's
    ``shiftleft`` wraps the shift amount mod 64 (di=64 collides with
    day 0, di=-1 sets bit 63) while DuckDB's ``<<`` does not — so an
    event outside the covered window must be excluded, not wrapped
    into a wrong bit. Day 63 itself (the sign bit) needs oracle-side
    care: ``1::BIGINT << 63`` is a DuckDB overflow ERROR while
    Spark's shiftleft wraps to min-long, so the oracle spells bit 63
    as the min-long literal — found by the r9 randomized-data sweep
    (the fixtures span 30 days and never reach it)."""
    e = table(spark, "events", sf_dir)
    d = (e.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"),
                   F.lit("2024-01-01").cast("date")).alias("di"))
        .filter(F.col("di").between(0, 63)))
    m = (d.groupBy("user_id")
         .agg(F.expr("bit_or(shiftleft(cast(1 as bigint), di))")
              .alias("activity_mask"),
              F.min("di").cast("int").alias("first_day"),
              F.max("di").cast("int").alias("last_day")))
    return m.select("user_id", "activity_mask",
                    F.bit_count("activity_mask").cast("int")
                     .alias("days_active"),
                    "first_day", "last_day")


def _mmr_oracle(dim: int = 64, pool: int = 8, k: int = 4,
                nq: int = 5) -> str:
    """Unrolled greedy MMR selection: candidate pool = exact top-8
    cosine per query; then k-1 chained CTE steps, each picking the
    argmax of 0.5·rel − 0.5·(max sim to already-selected). Every
    float comes from the unrolled cosine the whole oracle family
    uses, and the greedy argmax is an exact comparison with an id
    tiebreak, so selections match Spark's step-for-step."""
    from map_reduce_mongodb_spark.functions.vectors import (
        cosine_unrolled_sql)
    cosqc = cosine_unrolled_sql("qv", "cv", dim)
    cosab = cosine_unrolled_sql("av", "bv", dim)
    steps = []
    for t in range(2, k + 1):
        steps.append(f"""
ms{t} AS (
  SELECT p.query_id, p.id_a, max(p.sim) AS ms
  FROM psim p JOIN sel{t - 1} s
    ON s.query_id = p.query_id AND s.neighbor_id = p.id_b
  GROUP BY p.query_id, p.id_a),
rem{t} AS (
  SELECT c.query_id, c.neighbor_id, c.rel, m.ms
  FROM cand c JOIN ms{t} m
    ON m.query_id = c.query_id AND m.id_a = c.neighbor_id
  WHERE NOT EXISTS (SELECT 1 FROM sel{t - 1} s
                    WHERE s.query_id = c.query_id
                      AND s.neighbor_id = c.neighbor_id)),
pick{t} AS (
  SELECT query_id, neighbor_id, {t} AS pick,
         0.5 * rel - 0.5 * ms AS score
  FROM (SELECT query_id, neighbor_id, rel, ms,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY 0.5 * rel - 0.5 * ms DESC,
                            neighbor_id) AS rn
        FROM rem{t}) WHERE rn = 1),
sel{t} AS (SELECT * FROM sel{t - 1}
           UNION ALL SELECT * FROM pick{t})""")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < {nq}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (SELECT query_id, neighbor_id, {cosqc} AS rel
           FROM c, q WHERE neighbor_id <> query_id),
cand AS (SELECT query_id, neighbor_id, rel FROM (
  SELECT query_id, neighbor_id, rel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, neighbor_id) AS rn
  FROM scored) WHERE rn <= {pool}),
candv AS (SELECT cd.query_id, cd.neighbor_id, e.embedding AS v
          FROM cand cd JOIN embeddings e ON e.vec_id = cd.neighbor_id),
pv AS (SELECT a.query_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b,
              a.v AS av, b.v AS bv
       FROM candv a JOIN candv b
         ON a.query_id = b.query_id
        AND a.neighbor_id <> b.neighbor_id),
psim AS (SELECT query_id, id_a, id_b, {cosab} AS sim FROM pv),
sel1 AS (SELECT query_id, neighbor_id, 1 AS pick, rel AS score FROM (
  SELECT query_id, neighbor_id, rel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, neighbor_id) AS rn
  FROM cand) WHERE rn = 1),
{','.join(steps)}
SELECT query_id, neighbor_id, CAST(pick AS INT) AS pick,
       round(score, 6) + 0.0 AS score
FROM sel{k}
"""


@query("mmr_rerank", oracle=_mmr_oracle())
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified re-rank (Carbonell &
    Goldstein): from each query's exact top-8 cosine pool, greedily
    select 4 results maximizing 0.5·relevance − 0.5·(max similarity
    to already-picked) — the diversification pass retrieval systems
    run so near-duplicate hits don't crowd the result page (directly
    downstream of this repo's dedup family: redundancy costs rank).
    The greedy recurrence can't be one SQL expression, but with a
    POOLED candidate set it unrolls exactly: pool and pairwise sims
    are tiny broadcast-sized tables (|Q|·8 and |Q|·8·7) computed
    once with the oracle family's unrolled cosine, and each of the 3
    selection steps is an anti-join + max-aggregate + argmax window
    over those pools — selections compare bit-identical floats with
    id tiebreaks in both engines. At 100 TB the pool stage is the
    existing top-k machinery; the MMR stage only ever touches
    |Q|·pool rows."""
    from map_reduce_mongodb_spark.functions.vectors import (
        cosine_unrolled)
    from map_reduce_mongodb_spark.operators.similarity import (
        cosine_topk_bruteforce)
    pool, k = 8, 4
    emb = table(spark, "embeddings", sf_dir)
    # The greedy chain references the pool ~2 tables per step; left
    # lazy, each step's plan re-embeds the brute-force scan and the
    # pairwise-sim join, and 4 steps of window+join lineage compile
    # into a ~90-broadcast-join monster (measured 11.8 s at sf0.1,
    # nearly all planning/codegen). Checkpointing the two
    # |Q|·pool-bounded tables — and each step's selection — keeps
    # every step's plan flat over tiny materialized inputs (~1 s).
    cand = checkpoint_leaf(
        cosine_topk_bruteforce(emb, list(range(5)), k=pool)
        .select("query_id", "neighbor_id",
                F.col("cosine").alias("rel")))
    ev = emb.select("vec_id", "embedding")
    candv = (cand.join(ev, cand.neighbor_id == ev.vec_id)
             .select("query_id", "neighbor_id", "embedding"))
    a = candv.select("query_id", F.col("neighbor_id").alias("id_a"),
                     F.col("embedding").alias("va"))
    b = candv.select("query_id", F.col("neighbor_id").alias("id_b"),
                     F.col("embedding").alias("vb"))
    psim = checkpoint_leaf(
        a.join(b, "query_id")
        .where(F.col("id_a") != F.col("id_b"))
        .select("query_id", "id_a", "id_b",
                cosine_unrolled("va", "vb", 64).alias("sim")))
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("rel"), F.asc("neighbor_id"))
    sel = (cand.withColumn("rn", F.row_number().over(w1))
           .where(F.col("rn") == 1)
           .select("query_id", "neighbor_id",
                   F.lit(1).alias("pick"), F.col("rel").alias("score")))
    for t in range(2, k + 1):
        ms = (psim.join(sel.select("query_id",
                                   F.col("neighbor_id").alias("id_b")),
                        ["query_id", "id_b"])
              .groupBy("query_id", "id_a")
              .agg(F.max("sim").alias("ms")))
        rem = (cand.join(sel.select("query_id", "neighbor_id"),
                         ["query_id", "neighbor_id"], "left_anti")
               .join(ms.select("query_id",
                               F.col("id_a").alias("neighbor_id"),
                               "ms"),
                     ["query_id", "neighbor_id"])
               .withColumn("score", F.lit(0.5) * F.col("rel")
                           - F.lit(0.5) * F.col("ms")))
        wt = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("neighbor_id"))
        pick = (rem.withColumn("rn", F.row_number().over(wt))
                .where(F.col("rn") == 1)
                .select("query_id", "neighbor_id",
                        F.lit(t).alias("pick"), "score"))
        nxt = checkpoint_leaf(sel.unionByName(pick))
        release_leaf(sel)
        sel = nxt
    # + 0.0 after the round: a tiny-negative score (float noise when a
    # candidate duplicates a selected vector, rel ≈ ms) rounds to -0.0
    # in DuckDB but 0.0 in Spark, and the value hash is repr-sensitive
    # (r9 randomized-data sweep — duplicate-embedding injection).
    return sel.select("query_id", "neighbor_id",
                      F.col("pick").cast("int").alias("pick"),
                      (F.round("score", 6) + F.lit(0.0)).alias("score"))


def _moment_formulas() -> dict[str, str]:
    """Shared SQL text (valid in BOTH engines) deriving central-moment
    statistics from exact integer raw moments n, s1..s4 — identical
    expression text ⇒ identical IEEE op order ⇒ bit-identical
    doubles."""
    mean = "CAST(s1 AS DOUBLE) / n"
    m2 = f"CAST(s2 AS DOUBLE) / n - ({mean}) * ({mean})"
    m3 = (f"CAST(s3 AS DOUBLE) / n - 3 * ({mean}) * "
          f"(CAST(s2 AS DOUBLE) / n) + 2 * ({mean}) * ({mean}) * "
          f"({mean})")
    m4 = (f"CAST(s4 AS DOUBLE) / n - 4 * ({mean}) * "
          f"(CAST(s3 AS DOUBLE) / n) + 6 * ({mean}) * ({mean}) * "
          f"(CAST(s2 AS DOUBLE) / n) - 3 * ({mean}) * ({mean}) * "
          f"({mean}) * ({mean})")
    return {
        "mean": mean, "m2": m2,
        "skew": f"({m3}) / (({m2}) * sqrt({m2}))",
        "kurt": f"({m4}) / (({m2}) * ({m2})) - 3",
    }


_MOM = _moment_formulas()


@query("lineitem_higher_moments", oracle=f"""
WITH m AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         sum(q) AS s1, sum(q * q) AS s2,
         sum(q * q * q) AS s3, sum(q * q * q * q) AS s4
  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
        FROM lineitem)
  GROUP BY l_returnflag)
SELECT l_returnflag, n,
       round({_MOM['mean']}, 6) AS mean_qty,
       round({_MOM['m2']}, 6) AS var_qty,
       round({_MOM['skew']}, 6) AS skewness,
       round({_MOM['kurt']}, 6) AS excess_kurtosis
FROM m
""")
def q_lineitem_higher_moments(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Distribution-shape statistics (variance, skewness, excess
    kurtosis) per return flag from EXACT integer raw moments — the
    one-pass mergeable formulation (n, Σx..Σx⁴ are map-side-combined
    BIGINT partials; no second centering pass, no float accumulation
    order sensitivity — the same exactness discipline as
    `source_quality_ttest`/`brand_qty_price_corr`). The float
    derivation runs the IDENTICAL formula text in both engines
    (F.expr == oracle SQL), so every double matches bit-for-bit
    before the 6dp rounding. Quantities ≤50 keep Σx⁴ within int64
    through ~10¹² rows; beyond that the partials widen to
    DECIMAL(38) (the brand_qty_price_corr pattern)."""
    li = table(spark, "lineitem", sf_dir)
    m = (li.select("l_returnflag",
                   F.col("l_quantity").cast("bigint").alias("q"))
         .groupBy("l_returnflag")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("q").alias("s1"),
              F.sum(F.expr("q * q")).alias("s2"),
              F.sum(F.expr("q * q * q")).alias("s3"),
              F.sum(F.expr("q * q * q * q")).alias("s4")))
    return m.select(
        "l_returnflag", "n",
        F.round(F.expr(_MOM["mean"]), 6).alias("mean_qty"),
        F.round(F.expr(_MOM["m2"]), 6).alias("var_qty"),
        F.round(F.expr(_MOM["skew"]), 6).alias("skewness"),
        F.round(F.expr(_MOM["kurt"]), 6).alias("excess_kurtosis"))


@query("word_cooc_lift", oracle=r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS ws
           FROM documents),
pr AS (
  SELECT least(ws[i], ws[i+1]) AS word_a,
         greatest(ws[i], ws[i+1]) AS word_b
  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM w)
  UNION ALL
  SELECT least(ws[i], ws[i+2]), greatest(ws[i], ws[i+2])
  FROM (SELECT ws, unnest(range(1, len(ws) - 1)) AS i FROM w)),
cp AS (SELECT word_a, word_b, CAST(count(*) AS BIGINT) AS cooc
       FROM pr GROUP BY 1, 2),
uni AS (SELECT word, CAST(count(*) AS BIGINT) AS cu FROM
        (SELECT unnest(ws) AS word FROM w) GROUP BY 1),
tp AS (SELECT CAST(sum(cooc) AS BIGINT) AS t FROM cp),
tu AS (SELECT CAST(sum(cu) AS BIGINT) AS u FROM uni)
SELECT word_a, word_b, cooc,
       round((CAST(cooc AS DOUBLE) / t)
             / ((CAST(ca.cu AS DOUBLE) / u)
                * (CAST(cb.cu AS DOUBLE) / u)), 6) AS lift
FROM cp
JOIN uni ca ON ca.word = word_a
JOIN uni cb ON cb.word = word_b
CROSS JOIN tp CROSS JOIN tu
ORDER BY (CAST(cooc AS DOUBLE) / t)
         / ((CAST(ca.cu AS DOUBLE) / u)
            * (CAST(cb.cu AS DOUBLE) / u)) DESC,
         word_a, word_b
LIMIT 50
""")
def q_word_cooc_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence LIFT: for word pairs within a ±2
    position window, observed-vs-independent frequency ratio — the
    association score behind collocation mining and word-vector
    co-occurrence matrices (`top_bigrams` counts adjacency; lift
    NORMALIZES it by unigram frequency, so frequent-but-independent
    pairs stop dominating). Pair extraction is a vectorized
    arrays_zip of the word array against its 1- and 2-shifted self
    (zero joins, bounded 2× token fan-out); counts are map-side
    combined; the two scalar totals join back broadcast, while the
    unigram marginals join WITHOUT a broadcast hint — vocabulary is
    unbounded at corpus scale, so the join strategy is left to AQE
    (broadcasts at small SF, shuffles on keys at 100 TB where a
    forced vocab broadcast would OOM the executors); top-50 cut by
    exact double lift with lexicographic tiebreaks
    (TakeOrderedAndProject — no global sort)."""
    from map_reduce_mongodb_spark.functions import text as T
    d = table(spark, "documents", sf_dir)
    ws = d.select(T.words(F.col("text")).alias("ws"))

    def shifted(dist: int):
        # clamped to 0 so short docs yield [] instead of a negative
        # slice length — lets both window distances come from ONE
        # evaluation (concat) instead of a union that would scan and
        # tokenize the corpus once per distance (the r8 union rule)
        n = F.greatest(F.size("ws") - dist, F.lit(0))
        return F.arrays_zip(F.slice(F.col("ws"), 1, n),
                            F.slice(F.col("ws"), 1 + dist, n))

    pr = (ws.where(F.size("ws") > 1)
          .select(F.explode(F.concat(shifted(1), shifted(2)))
                  .alias("p"))
          .select(F.least(F.col("p.0"), F.col("p.1")).alias("word_a"),
                  F.greatest(F.col("p.0"), F.col("p.1"))
                  .alias("word_b")))
    cp = (pr.groupBy("word_a", "word_b")
          .agg(F.count(F.lit(1)).alias("cooc")))
    uni = (ws.select(F.explode("ws").alias("word"))
           .groupBy("word").agg(F.count(F.lit(1)).alias("cu")))
    tp = cp.agg(F.sum("cooc").alias("t"))
    tu = uni.agg(F.sum("cu").alias("u"))
    ca = uni.select(F.col("word").alias("word_a"),
                    F.col("cu").alias("cu_a"))
    cb = uni.select(F.col("word").alias("word_b"),
                    F.col("cu").alias("cu_b"))
    lift = ((F.col("cooc").cast("double") / F.col("t"))
            / ((F.col("cu_a").cast("double") / F.col("u"))
               * (F.col("cu_b").cast("double") / F.col("u"))))
    return (cp.join(ca, "word_a")
            .join(cb, "word_b")
            .crossJoin(F.broadcast(tp)).crossJoin(F.broadcast(tu))
            .withColumn("_lift", lift)
            .orderBy(F.desc("_lift"), F.asc("word_a"),
                     F.asc("word_b"))
            .limit(50)
            .select("word_a", "word_b", "cooc",
                    F.round(F.col("_lift"), 6).alias("lift")))


@query("dup_graph_local_clustering", oracle=_CC_CTE + """
, deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
          FROM edges GROUP BY src),
tri AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.id_a = e1.id_b
  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
corner AS (
  SELECT a AS id FROM tri UNION ALL
  SELECT b FROM tri UNION ALL
  SELECT c FROM tri),
tc AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles
       FROM corner GROUP BY id)
SELECT d.src AS doc_id, d.degree,
       coalesce(t.triangles, 0) AS triangles,
       round(CAST(2 * coalesce(t.triangles, 0) AS DOUBLE)
             / (d.degree * (d.degree - 1)), 6) AS local_clustering
FROM deg d LEFT JOIN tc t ON t.id = d.src
WHERE d.degree >= 2
""")
def q_dup_graph_local_clustering(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """PER-NODE clustering coefficient over the near-dup graph
    (`dup_graph_stats` reports the global transitivity; this is the
    node-level readout that separates template hubs — high degree,
    low clustering — from tight mutual-duplicate cliques). Triangle
    enumeration is the ordered two-join over DEGREE-ORIENTED edges
    (each edge points low-(degree, id) → high, so every triangle is
    counted exactly once under that total order AND the wedge join
    fans out from the LOW-degree endpoint: max out-degree is O(√m),
    the worst-case-optimal bound — an id-oriented join would explode
    to ~deg²/4 wedges at a hot template hub). Corners explode to
    per-node counts, degrees join from one aggregate; all shuffles
    keyed by node/edge ids over the shared 0.7-Jaccard pair table.
    The triangle SET is orientation-independent, so the id-ordered
    oracle states the same per-node counts."""
    pairs = _jaccard_pairs_07(spark, sf_dir).select("id_a", "id_b")
    sym = symmetrize(pairs)
    deg = sym.groupBy("id_a").agg(F.count(F.lit(1)).alias("degree"))
    da = deg.select("id_a", F.col("degree").alias("deg_a"))
    db = deg.select(F.col("id_a").alias("id_b"),
                    F.col("degree").alias("deg_b"))
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b"))
        & (F.col("id_a") < F.col("id_b")))
    o = (pairs.join(da, "id_a").join(db, "id_b")
         .select(F.when(a_first, F.col("id_a"))
                 .otherwise(F.col("id_b")).alias("src"),
                 F.when(a_first, F.col("id_b"))
                 .otherwise(F.col("id_a")).alias("dst")))
    e1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = o.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    # all three corners from ONE evaluation of the triangle join (a
    # 3-way unionAll would re-run the wedge join per branch)
    corner = tri.select(
        F.explode(F.array("a", "b", "c")).alias("id"))
    tc = corner.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
    return (deg.where(F.col("degree") >= 2)
            .join(tc, deg.id_a == tc.id, "left")
            .select(F.col("id_a").alias("doc_id"), "degree",
                    F.coalesce("triangles", F.lit(0)).alias("triangles"),
                    F.round(
                        (2 * F.coalesce("triangles", F.lit(0)))
                        .cast("double")
                        / (F.col("degree") * (F.col("degree") - 1)),
                        6).alias("local_clustering")))


@query("top_event_paths", oracle="""
WITH s AS (
  SELECT user_id, event_type AS e1,
         lead(event_type) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT e1 || '>' || e2 || '>' || e3 AS path,
       CAST(count(*) AS BIGINT) AS n
FROM s WHERE e3 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, path LIMIT 25
""")
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step behaviour paths (the sequence-mining readout one
    level above `event_transition_matrix`'s Markov pairs): two lead()
    taps over the per-user timeline window (bounded per-user work,
    shuffled once by user_id), path strings aggregate map-side, and
    the top-25 cut is TakeOrderedAndProject — no global sort of the
    path space."""
    e = table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select("user_id", F.col("event_type").alias("e1"),
                 F.lead("event_type").over(w).alias("e2"),
                 F.lead("event_type", 2).over(w).alias("e3"))
    return (s.where(F.col("e3").isNotNull())
            .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
            .groupBy("path").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("path")).limit(25))


def _ivfpq_index(spark: SparkSession, sf_dir: str):
    """The full trained IVF-PQ index shared by `ivfpq_topk` AND its
    probe-all gate: coarse centroids + residual codebooks via
    `cache.shared_value` (driver metadata), the (vec_id, code, cell)
    table via `cache.shared_parquet` — 12 B/vector, the layout a
    production store persists. Training (Lloyd passes) and the corpus
    residual-encode run once per process, and the gate hash-checks
    the exact index instance the production query serves."""
    from map_reduce_mongodb_spark.cache import (shared_parquet,
                                                shared_value)
    from map_reduce_mongodb_spark.operators.similarity import (
        ivfpq_encode_codes, ivfpq_residual_frame, ivfpq_train_books,
        kmeans_centroids)
    emb = table(spark, "embeddings", sf_dir)
    cents = shared_value(
        f"ivfpq_cents_16x2_{sf_dir}",
        lambda: kmeans_centroids(emb, n_centroids=16, n_iters=2))

    # One residual pass feeds BOTH the codebook training and the
    # encode, lazily: on a shared-cache hit neither closure runs and
    # the corpus is never residual-encoded at all.
    _rdf: list = []

    def rdf():
        if not _rdf:
            _rdf.append(ivfpq_residual_frame(emb, cents))
        return _rdf[0]

    books = shared_value(
        f"ivfpq_books_16x2_8x16_{sf_dir}",
        lambda: ivfpq_train_books(emb, cents, resid=rdf()))
    codes = shared_parquet(
        spark, f"ivfpq_codes_16x2_8x16_{sf_dir}",
        lambda: ivfpq_encode_codes(emb, cents, books, resid=rdf()))
    return cents, books, codes


@query("ivfpq_topk")  # no oracle: Lloyd-refined centroids + trained
# residual codebooks aren't SQL-reproducible; gated closed-loop —
# ivfpq_probe_all (below) is hash-checked ≡ brute force, and recall /
# determinism gates live in tests/test_similarity.py.
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 — the two-level billion-scale index (FAISS
    IVFPQ): spherical-k-means coarse cells prune to nprobe=4 Voronoi
    regions, PQ codes over CELL RESIDUALS (pq_train/pq_encode with
    normalize=False) give 8-byte vectors, per-cell ADC lookup tables
    score candidates without touching floats, per-partition top-32
    cuts bound the stream, exact JVM cosine re-ranks. Composes the
    repo's coarse quantizer and PQ stages into the architecture
    production vector stores actually deploy. Searches the shared
    trained index (`_ivfpq_index`) — the probe-all gate hash-checks
    this exact instance."""
    from map_reduce_mongodb_spark.operators.similarity import (
        ivfpq_topk)
    cents, books, codes = _ivfpq_index(spark, sf_dir)
    return ivfpq_topk(table(spark, "embeddings", sf_dir),
                      query_ids=list(range(10)), k=5,
                      cents=cents, books=books, codes=codes)


@query("ivfpq_probe_all", oracle=_cosine_topk_oracle())
def q_ivfpq_probe_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ exactness gate: every cell probed AND the ADC
    candidate cut widened past the corpus ⇒ the candidate set is
    provably everything, so the exact re-rank is provably brute-force
    top-k for ANY centroids and codebooks — hash-checked against the
    cosine oracle (the same closed loop that certifies
    ivf_kmeans_probe_all, pq_rerank_all, and nsw_probe_all). Probes
    the ONE shared trained index (`_ivfpq_index`), so this hash-green
    row certifies the exact instance `ivfpq_topk` serves."""
    from map_reduce_mongodb_spark.operators.similarity import (
        ivfpq_topk)
    cents, books, codes = _ivfpq_index(spark, sf_dir)
    return ivfpq_topk(table(spark, "embeddings", sf_dir),
                      query_ids=list(range(10)), k=5, probe_all=True,
                      cents=cents, books=books, codes=codes)


@query("source_vocab_overlap", oracle=r"""
WITH sv AS (
  SELECT DISTINCT source,
         unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS word
  FROM documents),
sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n
       FROM sv GROUP BY 1),
ov AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM sv a JOIN sv b
    ON a.word = b.word AND a.source < b.source
  GROUP BY 1, 2)
SELECT source_a, source_b, n_shared,
       sa.n AS n_a, sb.n AS n_b,
       round(CAST(n_shared AS DOUBLE)
             / (sa.n + sb.n - n_shared), 6) AS jaccard
FROM ov
JOIN sz sa ON sa.source = source_a
JOIN sz sb ON sb.source = source_b
""")
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Pairwise vocabulary overlap between corpus SOURCES (the
    text-side twin of `audience_overlap`): shared-type counts and
    Jaccard between each source pair's vocabularies — the
    domain-similarity readout that decides which sources a mixture
    should treat as near-duplicates of each other. Scale shape:
    dedupe to DISTINCT (source, word) first (fact-sized, map-side
    combined), then the pair expansion is a self-join keyed by WORD —
    each word contributes |its sources|² pairs (bounded by the source
    vocabulary, never document count); sizes join back broadcast."""
    from map_reduce_mongodb_spark.functions import text as T
    d = table(spark, "documents", sf_dir)
    sv = (d.select("source",
                   F.explode(T.words(F.col("text"))).alias("word"))
          .distinct())
    sz = sv.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sv.select(F.col("source").alias("source_a"), "word")
    b = sv.select(F.col("source").alias("source_b"), "word")
    ov = (a.join(b, "word")
          .where(F.col("source_a") < F.col("source_b"))
          .groupBy("source_a", "source_b")
          .agg(F.count(F.lit(1)).alias("n_shared")))
    sa = sz.select(F.col("source").alias("source_a"),
                   F.col("n").alias("n_a"))
    sb = sz.select(F.col("source").alias("source_b"),
                   F.col("n").alias("n_b"))
    return (ov.join(F.broadcast(sa), "source_a")
            .join(F.broadcast(sb), "source_b")
            .select("source_a", "source_b", "n_shared", "n_a", "n_b",
                    F.round(F.col("n_shared").cast("double")
                            / (F.col("n_a") + F.col("n_b")
                               - F.col("n_shared")), 6)
                    .alias("jaccard")))


def _dbscan_oracle(dim: int = 64, threshold: float = 0.4,
                   min_pts: int = 3) -> str:
    """Exact DBSCAN over the ε-graph (cosine ≥ threshold), minPts
    counted INCLUDING the point itself (degree ≥ minPts−1 ⇒ core):
    core-core closure via recursive CTE, borders take the min core
    neighbour's cluster, the rest is noise."""
    from map_reduce_mongodb_spark.functions.vectors import (
        dot_unrolled_sql, norm_sq_unrolled_sql)
    nsq = norm_sq_unrolled_sql("embedding", dim)
    dot = dot_unrolled_sql("a.vn", "b.vn", dim)
    return f"""
WITH RECURSIVE v AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(x AS DOUBLE) / sqrt({nsq})) AS vn
  FROM embeddings),
p AS (
  SELECT id_a, id_b FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({dot}, 6) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id)
  WHERE cosine >= {threshold}),
edges AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
core AS (SELECT src AS id FROM deg WHERE d >= {min_pts - 1}),
ce AS (SELECT e.src, e.dst FROM edges e
       JOIN core a ON a.id = e.src
       JOIN core b ON b.id = e.dst),
reach(id, r) AS (
  SELECT src, src FROM ce
  UNION
  SELECT e.src, reach.r FROM ce e JOIN reach ON e.dst = reach.id),
cc AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
ccall AS (SELECT id, cluster FROM cc
          UNION ALL
          SELECT id, id FROM core
          WHERE id NOT IN (SELECT id FROM cc)),
border AS (
  SELECT e.src AS id, min(c.cluster) AS cluster
  FROM edges e JOIN ccall c ON c.id = e.dst
  WHERE e.src NOT IN (SELECT id FROM core)
  GROUP BY e.src)
SELECT em.vec_id,
       CASE WHEN co.id IS NOT NULL THEN 'core'
            WHEN bo.id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(coalesce(cl.cluster, bo.cluster) AS BIGINT) AS cluster_id
FROM embeddings em
LEFT JOIN core co ON co.id = em.vec_id
LEFT JOIN ccall cl ON cl.id = em.vec_id
LEFT JOIN border bo ON bo.id = em.vec_id
"""


@query("dbscan_embeddings", oracle=_dbscan_oracle())
def q_dbscan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT density-based clustering (DBSCAN, ε = cosine 0.4,
    minPts=3) over the embedding corpus — the clustering that finds
    arbitrary-shaped dense regions and labels sparse vectors NOISE
    (k-means must assign everything somewhere; semantic_dedup's plain
    CC merges through any single chance pair — DBSCAN's core
    requirement is the density filter between those extremes). All
    stages ride existing scale machinery: the ε-graph IS the
    once-materialized blocked-GEMM 0.4-pair table, degrees/cores are
    one map-side-combined aggregate, the core-core closure is the
    Kiveris CC operator, borders attach by a min-aggregate over core
    neighbours, and the role classification is two broadcast-sized
    left joins against the vector universe. Deterministic: cluster
    label = min core id in the core component; border ties take the
    min cluster label. The oracle re-derives everything from exact
    all-pairs cosine + a recursive closure.

    The node-scaled reused tables (``core`` — consumed 4×; ``ccall``
    — consumed 2×, and a union the optimizer pushes joins through,
    duplicating whatever sits across them) are eagerly CHECKPOINTED
    (r9 union-duplication sweep): un-materialized, every reuse
    re-ran the ε-graph degree aggregate — the corpus-pair-scaled
    cost — up to 4× per query."""
    from map_reduce_mongodb_spark.cache import checkpoint_leaf as _leaf
    from map_reduce_mongodb_spark.operators.graph import (
        connected_components)

    min_pts = 3
    emb = table(spark, "embeddings", sf_dir)
    pairs = _embedding_pairs_04(spark, sf_dir).select("id_a", "id_b")
    sym = symmetrize(pairs)
    deg = sym.groupBy("id_a").agg(F.count(F.lit(1)).alias("d"))
    core = _leaf(deg.where(F.col("d") >= min_pts - 1)
                 .select(F.col("id_a").alias("id")))
    ce = (pairs
          .join(core.select(F.col("id").alias("id_a")), "id_a",
                "left_semi")
          .join(core.select(F.col("id").alias("id_b")), "id_b",
                "left_semi"))
    # leaf cc BEFORE it enters both branches of ccall's union —
    # un-leafed, the single checkpoint job that materializes ccall
    # evaluates the CC label aggregate once per branch (the exact
    # duplication signature the registry sweep flags, hidden here
    # only because the checkpoint replaces the plan with a leaf)
    # keep the input checkpoint here: ce is TWO semi-joins, and
    # round 1's symmetrize union would re-evaluate them 4x — the r13
    # interleaved A/B measured that as a net loss vs the one ckpt job
    cc = _leaf(connected_components(ce, src="id_a", dst="id_b"))
    ccall = _leaf(cc.unionByName(
        core.join(cc.select(F.col("id")), "id", "left_anti")
        .select("id", F.col("id").alias("cc"))))
    border = (sym.join(core.select(F.col("id").alias("id_a")), "id_a",
                       "left_anti")
              .join(ccall.select(F.col("id").alias("id_b"),
                                 F.col("cc").alias("cluster")),
                    "id_b")
              .groupBy("id_a").agg(F.min("cluster").alias("bcluster")))
    return (emb.select("vec_id")
            .join(core.select(F.col("id").alias("vec_id"),
                              F.lit(True).alias("_core")),
                  "vec_id", "left")
            .join(ccall.select(F.col("id").alias("vec_id"),
                               F.col("cc").alias("ccluster")),
                  "vec_id", "left")
            .join(border.select(F.col("id_a").alias("vec_id"),
                                F.lit(True).alias("_border"),
                                "bcluster"),
                  "vec_id", "left")
            .select(
                "vec_id",
                F.when(F.col("_core"), F.lit("core"))
                 .when(F.col("_border"), F.lit("border"))
                 .otherwise(F.lit("noise")).alias("role"),
                F.coalesce("ccluster", "bcluster").cast("bigint")
                 .alias("cluster_id")))


@query("dup_graph_kcore")  # no oracle: data-dependent peeling
# fixpoint isn't SQL-expressible; gated against an exact pure-Python
# peel in tests/test_graph.py (set + degree equality).
def q_dup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE depth profile of the near-dup graph (iterative peeling
    to the maximal subgraph where every document keeps ≥k near-dup
    neighbours, for k = 2, 3, 4) — the density filter that isolates
    the BOILERPLATE/TEMPLATE nucleus: connected components merge
    through any chance pair, but surviving a deep core demands
    mutual, redundant duplication. One summary row per depth
    (survivors + max in-core degree; 0s are meaningful — "no nucleus
    this dense"), so the result is non-vacuous at every corpus scale
    where a 3-core alone may legitimately be empty. Each peel round
    is one degree aggregate + two node-keyed semi-joins with
    checkpointed lineage, its convergence checksum observed inside
    the checkpoint job; the three depths CHAIN — the (k+1)-core is
    peeled from the k-core fixpoint, never from the full graph
    (operators/graph.py:k_core_profile; monotonicity), so the deeper
    passes scan a strictly shrinking nucleus. Reads the shared
    0.7-Jaccard pair table. Rows-only by design (data-dependent
    fixpoint); exactness is pinned against a pure-Python peel over
    the same depths in tests/test_graph.py."""
    from map_reduce_mongodb_spark.operators.graph import k_core_profile
    pairs = _jaccard_pairs_07(spark, sf_dir).select("id_a", "id_b")
    return k_core_profile(pairs, ks=[2, 3, 4])


@query("brand_revenue_trend", oracle="""
WITH wk AS (
  SELECT p.p_brand,
         date_diff('day', DATE '1992-01-01',
                   CAST(o.o_orderdate AS DATE)) // 7 AS x,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
              AS BIGINT) AS cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey),
w2 AS (SELECT p_brand, x, sum(cents) AS y FROM wk GROUP BY 1, 2),
m AS (
  SELECT p_brand,
         CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM w2 GROUP BY p_brand)
SELECT p_brand, n,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),
             4) AS slope_cents_per_week
FROM m
WHERE CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
""")
def q_brand_revenue_trend(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Per-brand weekly revenue TREND (exact least-squares slope):
    revenue collapses to integer cents per (brand, week) first — the
    only fact-sized aggregate, map-side combined — then the
    regression runs on exact integer moments (n, Σx, Σy, Σxy, Σx²)
    over the calendar-bounded weekly table, with the slope formula
    sharing identical expression TEXT across engines (the
    brand_qty_price_corr discipline). Trend/regression over grouped
    time series without ever sorting or windowing the fact table."""
    li = table(spark, "lineitem", sf_dir)
    o = table(spark, "orders", sf_dir)
    p = table(spark, "part", sf_dir)
    wk = (li.join(o, li.l_orderkey == o.o_orderkey)
          .join(p, li.l_partkey == p.p_partkey)
          .select("p_brand",
                  F.expr("datediff(cast(o_orderdate as date), "
                         "date'1992-01-01') div 7").alias("x"),
                  F.expr("CAST(round(l_extendedprice * "
                         "(1 - l_discount) * 100) AS BIGINT)")
                  .alias("cents")))
    w2 = wk.groupBy("p_brand", "x").agg(F.sum("cents").alias("y"))
    m = (w2.groupBy("p_brand")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(F.expr("x * y")).alias("sxy"),
              F.sum(F.expr("x * x")).alias("sxx")))
    num = "CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy"
    den = "CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx"
    return (m.where(F.expr(den) > 0)
            .select("p_brand", "n",
                    F.round(F.expr(f"({num}) / ({den})"), 4)
                    .alias("slope_cents_per_week")))


@query("nation_supplier_hhi", oracle="""
WITH sr AS (
  SELECT s.s_nationkey,
         l.l_suppkey,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                             * 100) AS BIGINT)) AS DECIMAL(38, 0))
           AS cents
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2),
m AS (
  SELECT s_nationkey,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         sum(cents) AS t,
         sum(cents * cents) AS srr
  FROM sr GROUP BY s_nationkey)
SELECT n.n_name AS nation, n_suppliers,
       round(CAST(srr AS DOUBLE)
             / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS hhi
FROM m JOIN nation n ON n.n_nationkey = m.s_nationkey
""")
def q_nation_supplier_hhi(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Supplier-concentration index (Herfindahl–Hirschman) per
    nation: HHI = Σ(supplier share)² = Σrev²/(Σrev)², computed from
    EXACT integer-cent revenue with the squares widened to
    DECIMAL(38,0) — Σcents² overflows int64 past ~sf1, the same
    overflow the brand_qty_price_corr moments dodge (DuckDB HUGEINT /
    Spark DECIMAL(38) both carry the product exactly). Two map-side
    aggregates + a broadcast nation join; the only float op is one
    division of exact inputs, rounded 6dp."""
    li = table(spark, "lineitem", sf_dir)
    s = table(spark, "supplier", sf_dir)
    n = table(spark, "nation", sf_dir)
    sr = (li.join(s, li.l_suppkey == s.s_suppkey)
          .groupBy("s_nationkey", "l_suppkey")
          .agg(F.expr("CAST(sum(CAST(round(l_extendedprice * "
                      "(1 - l_discount) * 100) AS BIGINT)) "
                      "AS DECIMAL(38, 0))").alias("cents")))
    m = (sr.groupBy("s_nationkey")
         .agg(F.count(F.lit(1)).alias("n_suppliers"),
              F.sum("cents").alias("t"),
              F.sum(F.expr("cents * cents")).alias("srr")))
    return (m.join(F.broadcast(n),
                   m.s_nationkey == n.n_nationkey)
            .select(F.col("n_name").alias("nation"), "n_suppliers",
                    F.round(F.expr("CAST(srr AS DOUBLE) / "
                                   "(CAST(t AS DOUBLE) * "
                                   "CAST(t AS DOUBLE))"), 6)
                    .alias("hhi")))


@query("k_anonymity_audit", oracle="""
WITH eq AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(count(*) AS BIGINT) AS class_size
  FROM customer GROUP BY 1, 2),
ks AS (SELECT unnest(range(2, 11)) AS k)
SELECT CAST(k AS INT) AS k,
       CAST(count(*) FILTER (WHERE class_size < k) AS BIGINT)
         AS classes_below_k,
       CAST(coalesce(sum(class_size)
                     FILTER (WHERE class_size < k), 0) AS BIGINT)
         AS rows_at_risk
FROM eq CROSS JOIN ks
GROUP BY k
""")
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str
                        ) -> DataFrame:
    """k-anonymity audit over the (nation, market-segment)
    quasi-identifier: for each k in 2..10, how many equivalence
    classes fall below k members and how many customer rows they
    expose — the privacy gate run before releasing a dataset keyed
    on indirect identifiers (the tabular sibling of `pii_scrub`'s
    free-text pass). One fact-sized map-side-combined class
    aggregate; the k-sweep is a broadcast 9-row cross join over the
    QI-bounded class table with conditional aggregates."""
    c = table(spark, "customer", sf_dir)
    eq = (c.groupBy("c_nationkey", "c_mktsegment")
          .agg(F.count(F.lit(1)).alias("class_size")))
    ks = spark.range(2, 11).select(F.col("id").cast("int").alias("k"))
    below = F.col("class_size") < F.col("k")
    return (eq.crossJoin(F.broadcast(ks))
            .groupBy("k")
            .agg(F.count_if(below).alias("classes_below_k"),
                 F.coalesce(F.sum(F.when(below, F.col("class_size"))),
                            F.lit(0)).alias("rows_at_risk")))


@query("events_seasonality_dow_hour", oracle="""
WITH e AS (
  SELECT dayofweek(ts) AS dow, CAST(hour(ts) AS INT) AS hr,
         value
  FROM events),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e)
SELECT CAST(dow AS INT) AS dow, hr,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(count(*) AS DOUBLE) / n, 6) AS share,
       round(sum(value), 2) AS total_value
FROM e CROSS JOIN tot
GROUP BY dow, hr, n
""")
def q_events_seasonality_dow_hour(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """Day-of-week × hour-of-day seasonality matrix (counts, traffic
    share, value totals) — the load-profile heat map behind capacity
    planning and anomaly baselines. One map-side-combined aggregate
    over a calendar-bounded 7×24 key space; the total joins as a
    broadcast scalar. DuckDB's dayofweek is 0-6 Sunday-first while
    Spark's dayofweek is 1-7 Sunday-first — Spark side subtracts 1
    to match the 0-based convention."""
    e = (table(spark, "events", sf_dir)
         .select((F.dayofweek("ts") - 1).cast("int").alias("dow"),
                 F.hour("ts").cast("int").alias("hr"), "value"))
    tot = e.agg(F.count(F.lit(1)).alias("n"))
    return (e.crossJoin(F.broadcast(tot))
            .groupBy("dow", "hr", "n")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.count(F.lit(1)).cast("double")
                         / F.col("n"), 6).alias("share"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .drop("n"))


#: One SQL text, two engines: Spark 4's WITH RECURSIVE (SPARK-24497)
#: and DuckDB's run the IDENTICAL statement — a decimal-digit-peeling
#: hierarchy walk (parent(s) = s div 10) computing each supplier's
#: depth and root. Integer division is spelled (cur - cur % 10) / 10
#: because `//` vs `div` differ between dialects while `%` and exact
#: float division of a divisible numerator agree.
_RECURSIVE_CTE_SQL = """
WITH RECURSIVE chain AS (
  SELECT s_suppkey AS suppkey, s_suppkey AS cur, 0 AS depth
  FROM supplier
  UNION ALL
  SELECT suppkey, CAST((cur - cur % 10) / 10 AS BIGINT) AS cur,
         depth + 1 AS depth
  FROM chain WHERE cur >= 10
)
SELECT suppkey, CAST(max(depth) AS INT) AS depth,
       CAST(min(CASE WHEN cur < 10 THEN cur END) AS BIGINT) AS root
FROM chain GROUP BY suppkey
"""


@query("sql_surface_recursive_cte", oracle=_RECURSIVE_CTE_SQL)
def q_sql_surface_recursive_cte(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Recursive-CTE surface: Spark 4 executes WITH RECURSIVE
    natively (SPARK-24497 — iterative union steps planned by
    Catalyst), so the hierarchy-walk class of queries (org charts,
    BOM explosions, graph reachability) runs as plain ANSI SQL — the
    SAME statement string is this query's oracle, making the two
    engines' recursion semantics directly comparable. The walk here
    peels decimal digits of s_suppkey (parent = s div 10): depth is
    bounded by log₁₀(maxkey), and each iteration is one bounded
    union step over the surviving frontier. (The repo's DataFrame-
    level iterative operators — CC, PageRank, BFS, peeling — remain
    the scale path where the iteration needs checkpoint discipline;
    this pins the SQL-parser surface.)"""
    from map_reduce_mongodb_spark.io import load_tables
    load_tables(spark, sf_dir, register_views=True)
    return spark.sql(_RECURSIVE_CTE_SQL)


# =====================================================================
# Round-5 continuation batch C: temporal rollups, interval joins,
# data-skipping statistics, robust statistics, entity clustering
# =====================================================================

@query("events_hourly_ohlc", oracle="""
SELECT event_type, date_trunc('hour', ts) AS hr,
       CAST(count(*) AS BIGINT) AS n_events,
       arg_min(value, event_id) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, event_id) AS close,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY event_type, date_trunc('hour', ts)
""")
def q_events_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open/high/low/close) bars per event type — the
    time-series downsampling rollup behind candlestick charts and
    metric retention tiers. One map-side-combined aggregate over a
    calendar-bounded key space (types × hours); open/close are
    ``min_by``/``max_by`` on the ingest sequence number (event_id —
    monotone with arrival), which makes them deterministic even when
    two events share a timestamp (the F4 truthiness-reduce discipline:
    never a nondeterministic `first`). At 100 TB this is the canonical
    partial-aggregate shape: no shuffle beyond the final
    types×hours-sized combine."""
    e = table(spark, "events", sf_dir)
    return (e.groupBy("event_type",
                      F.date_trunc("hour", "ts").alias("hr"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min_by("value", "event_id").alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max_by("value", "event_id").alias("close"),
                 F.round(F.sum("value"), 2).alias("total_value")))


@query("shipment_overlap_pairs", oracle="""
WITH iv AS (
  SELECT l_suppkey AS suppkey,
         l_orderkey * 8 + l_linenumber AS iid,
         date_diff('day', DATE '1992-01-01',
                   CAST(l_shipdate AS DATE)) AS s,
         date_diff('day', DATE '1992-01-01',
                   CAST(l_shipdate AS DATE))
           + CAST(l_quantity AS INT) % 7 + 1 AS e
  FROM lineitem)
SELECT a.suppkey AS suppkey,
       CAST(count(*) AS BIGINT) AS n_overlap_pairs,
       CAST(sum(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT)
         AS total_overlap_days,
       CAST(max(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT)
         AS max_overlap_days
FROM iv a JOIN iv b
  ON a.suppkey = b.suppkey AND a.iid < b.iid
 AND a.s < b.e AND b.s < a.e
GROUP BY a.suppkey
""")
def q_shipment_overlap_pairs(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Interval-overlap join: per supplier, every pair of shipments
    whose in-transit windows ``[shipdate, shipdate + transit_days)``
    overlap (transit_days derived deterministically from quantity),
    aggregated to pair counts and overlap-day totals — the
    booking-conflict / concurrent-load analysis. The oracle states
    the semantics as the plain quadratic inequality self-join; the
    Spark plan is `operators/temporal.py:interval_overlap_pairs`:
    explode each interval to its 7-day grid cells, equi-join on
    (supplier, cell), and keep each pair once in the canonical cell
    holding the overlap's first day. Per-cell occupancy — not
    |supplier group|² — bounds the fan-out, the 1-D sibling of the
    spatial grid join (`usgs_sites_within_radius`)."""
    from map_reduce_mongodb_spark.operators.temporal import (
        interval_overlap_pairs)
    li = table(spark, "lineitem", sf_dir)
    day0 = F.lit("1992-01-01").cast("date")
    iv = li.select(
        F.col("l_suppkey").alias("suppkey"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("iid"),
        F.datediff(F.to_date("l_shipdate"), day0).cast("long").alias("s"),
        (F.datediff(F.to_date("l_shipdate"), day0)
         + F.col("l_quantity").cast("int") % 7 + 1).cast("long")
        .alias("e"))
    pairs = interval_overlap_pairs(iv, key="suppkey", id_col="iid",
                                   start="s", end="e", cell_width=7)
    return (pairs.groupBy("suppkey")
            .agg(F.count(F.lit(1)).alias("n_overlap_pairs"),
                 F.sum("overlap").cast("long")
                 .alias("total_overlap_days"),
                 F.max("overlap").cast("long")
                 .alias("max_overlap_days")))


@query("zonemap_pruning_stats", oracle=f"""
WITH pts AS (
  SELECT o_custkey % 256 AS x,
         date_diff('day', DATE '1992-01-01',
                   CAST(o_orderdate AS DATE)) % 256 AS y
  FROM orders),
z AS (SELECT x, y, {_morton16_sql('x', 'y')} AS zcode FROM pts),
tagged AS (
  SELECT layout,
         CASE WHEN layout = 'zorder' THEN zcode >> 10
              ELSE x >> 2 END AS bucket,
         x, y,
         CASE WHEN x BETWEEN 96 AND 127 AND y BETWEEN 96 AND 127
              THEN 1 ELSE 0 END AS m
  FROM z CROSS JOIN (SELECT 'zorder' AS layout
                     UNION ALL SELECT 'linear') layouts),
b AS (
  SELECT layout, bucket, count(*) AS n, sum(m) AS nm,
         min(x) AS x_min, max(x) AS x_max,
         min(y) AS y_min, max(y) AS y_max
  FROM tagged GROUP BY layout, bucket),
f AS (
  SELECT layout, n, nm,
         CASE WHEN x_max >= 96 AND x_min <= 127
                   AND y_max >= 96 AND y_min <= 127
              THEN 0 ELSE 1 END AS pruned
  FROM b)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(pruned) AS BIGINT) AS n_pruned,
       CAST(sum(n) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN pruned = 0 THEN n ELSE 0 END) AS BIGINT)
         AS rows_scanned,
       CAST(sum(nm) AS BIGINT) AS rows_matched,
       round(CAST(sum(CASE WHEN pruned = 0 THEN n ELSE 0 END) AS DOUBLE)
             / sum(n), 6) AS scan_frac
FROM f GROUP BY layout
""")
def q_zonemap_pruning_stats(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Zone-map (file-statistics) pruning simulator: lay the orders
    fact out 64 buckets two ways — Z-ordered on (customer bucket,
    order-day bucket) vs linearly sorted on the customer bucket alone
    — record each bucket's min/max envelope, and evaluate which
    buckets a 32×32 two-column range predicate could skip. This is
    the measurement behind `zorder_layout`'s claim: the Z-order
    layout's aligned tiles prune BOTH dimensions (scan_frac ≈ the
    selectivity), while the 1-D sort only prunes its leading column.
    At 100 TB the b-CTE *is* the parquet footer statistics a
    data-skipping reader consults — computing it is one
    map-side-combined aggregate per layout over a shared scan, and
    the pruning sweep runs on the 64-row bucket table. Pure integer
    shift/mask arithmetic, exact in both engines."""
    o = table(spark, "orders", sf_dir)
    pts = o.select(
        (F.col("o_custkey") % 256).alias("x"),
        (F.datediff(F.to_date("o_orderdate"),
                    F.lit("1992-01-01").cast("date")) % 256
         ).cast("long").alias("y"))
    z = pts.withColumn("zcode", F.expr(_morton16_sql("x", "y")))
    layouts = (spark.range(1)
               .select(F.explode(F.array(F.lit("zorder"),
                                         F.lit("linear")))
                       .alias("layout")))
    tagged = (z.crossJoin(F.broadcast(layouts))
              .select("layout",
                      F.when(F.col("layout") == "zorder",
                             F.shiftright("zcode", 10))
                      .otherwise(F.shiftright("x", 2)).alias("bucket"),
                      "x", "y",
                      F.when((F.col("x").between(96, 127))
                             & (F.col("y").between(96, 127)), 1)
                      .otherwise(0).alias("m")))
    b = (tagged.groupBy("layout", "bucket")
         .agg(F.count(F.lit(1)).alias("n"), F.sum("m").alias("nm"),
              F.min("x").alias("x_min"), F.max("x").alias("x_max"),
              F.min("y").alias("y_min"), F.max("y").alias("y_max")))
    pruned = F.when((F.col("x_max") >= 96) & (F.col("x_min") <= 127)
                    & (F.col("y_max") >= 96) & (F.col("y_min") <= 127),
                    0).otherwise(1)
    f = b.select("layout", "n", "nm", pruned.alias("pruned"))
    scanned = F.sum(F.when(F.col("pruned") == 0, F.col("n"))
                    .otherwise(F.lit(0)))
    return (f.groupBy("layout")
            .agg(F.count(F.lit(1)).alias("n_buckets"),
                 F.sum("pruned").cast("long").alias("n_pruned"),
                 F.sum("n").cast("long").alias("rows_total"),
                 scanned.cast("long").alias("rows_scanned"),
                 F.sum("nm").cast("long").alias("rows_matched"),
                 F.round(scanned.cast("double") / F.sum("n"), 6)
                 .alias("scan_frac")))


@query("robust_mad_outliers", oracle="""
WITH v AS (SELECT event_type, value FROM events),
r1 AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v),
med AS (
  SELECT event_type, CAST(n AS BIGINT) AS n_events, value AS median
  FROM r1 WHERE rn = (n + 1) // 2),
dev AS (
  SELECT v.event_type, v.value, abs(v.value - m.median) AS d,
         m.median, m.n_events
  FROM v JOIN med m USING (event_type)),
r2 AS (
  SELECT event_type, d,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM dev),
mad AS (SELECT event_type, d AS mad FROM r2 WHERE rn = (n + 1) // 2)
SELECT d.event_type, d.n_events, d.median, mad.mad,
       CAST(count(*) FILTER (WHERE d.d > 3 * mad.mad) AS BIGINT)
         AS n_outliers,
       max(d.d) AS max_abs_dev
FROM dev d JOIN mad USING (event_type)
GROUP BY d.event_type, d.n_events, d.median, mad.mad
""")
def q_robust_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate per event type: median + MAD (median
    absolute deviation) instead of mean + σ — the curation filter
    that survives the heavy-tailed value distributions where
    `events_anomaly_zscore`'s moments get dragged by the outliers
    they're meant to find. Both order statistics are EXACT over the
    continuous value column via
    `operators/quantiles.py:grouped_order_statistic` — a two-phase
    selection (bucket histogram locates the target bucket, a tiny
    per-(group, bucket) sort finishes) so no group's full value set
    crosses one task; the oracle states the same statistic as the
    quadratic-free but single-partition-per-group window form. Every
    emitted number is either a data value, an IEEE-exact |v - median|,
    or an integer count — no rounding needed for cross-engine
    equality (the 3·MAD threshold multiplies identically in both
    engines)."""
    from map_reduce_mongodb_spark.operators.quantiles import (
        grouped_order_statistic)
    e = table(spark, "events", sf_dir).select("event_type", "value")
    med = grouped_order_statistic(e, ["event_type"], "value",
                                  out_col="median")
    dev = (e.join(F.broadcast(med), "event_type")
           .withColumn("d", F.abs(F.col("value") - F.col("median"))))
    mad = (grouped_order_statistic(
               dev.select("event_type", "d"), ["event_type"], "d",
               out_col="mad")
           .select("event_type", "mad"))
    return (dev.join(F.broadcast(mad), "event_type")
            .groupBy("event_type",
                     F.col("n").cast("long").alias("n_events"),
                     "median", "mad")
            .agg(F.count_if(F.col("d") > 3 * F.col("mad"))
                 .alias("n_outliers"),
                 F.max("d").alias("max_abs_dev")))


@query("fuzzy_entity_clusters", oracle="""
WITH RECURSIVE names AS (
  SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts,
         string_split(p_name, ' ')[-1] AS blk
  FROM part GROUP BY p_name),
p AS (
  SELECT a.p_name AS na, b.p_name AS nb
  FROM names a JOIN names b
    ON a.blk = b.blk AND a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) <= 3),
edges AS (SELECT na AS src, nb AS dst FROM p
          UNION SELECT nb, na FROM p),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT cc.cluster_id,
       CAST(count(*) AS BIGINT) AS cluster_size,
       CAST(sum(n.n_parts) AS BIGINT) AS n_parts
FROM cc JOIN names n ON cc.id = n.p_name
GROUP BY cc.cluster_id
""")
def q_fuzzy_entity_clusters(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Entity resolution END-TO-END: the blocked-Levenshtein candidate
    pairs of `fuzzy_name_match` closed into entity CLUSTERS via
    connected components — pairs alone don't deduplicate a catalog;
    the transitive closure ("A≈B, B≈C ⇒ one entity {A,B,C}") does.
    Each cluster reports its canonical id (lexicographic-min member
    name — the same component-min rule as every dedup family here),
    member count, and total part rows it would consolidate. Scale
    path: pair generation is vocabulary-sized and blocked (see
    `fuzzy_name_match`); the closure is the Kiveris CC operator on
    STRING node ids (`operators/graph.py` works over any comparable
    id type — min-label propagation needs only an ordering); the
    oracle re-derives the closure with a recursive CTE. The final
    size/rollup joins are cluster-bounded aggregates."""
    from map_reduce_mongodb_spark.operators.graph import (
        connected_components)
    pt = table(spark, "part", sf_dir)
    names = (pt.groupBy("p_name")
             .agg(F.count(F.lit(1)).alias("n_parts"))
             .withColumn("blk", F.element_at(
                 F.split(F.col("p_name"), " "), -1)))
    a, b = names.alias("a"), names.alias("b")
    edges = (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                    & (F.col("a.p_name") < F.col("b.p_name")))
             .where(F.levenshtein(F.col("a.p_name"),
                                  F.col("b.p_name")) <= 3)
             .select(F.col("a.p_name").alias("src"),
                     F.col("b.p_name").alias("dst")))
    cc = connected_components(edges)
    return (cc.join(names, cc["id"] == names["p_name"])
            .groupBy(F.col("cc").alias("cluster_id"))
            .agg(F.count(F.lit(1)).alias("cluster_size"),
                 F.sum("n_parts").cast("long").alias("n_parts")))


def _pca_oracle(dim: int = 64, iters: int = 8) -> str:
    """Unrolled-CTE mirror of operators/pca.py: same quantization
    (2^10), same reduction divisor (2^18), same per-step cap (2^10),
    same sign·(abs div d) division — every intermediate an exact
    integer, so the comparison needs no rounding at all."""
    # AS MATERIALIZED everywhere: the iteration references `cr` and
    # each v{k} repeatedly; DuckDB's default CTE inlining would expand
    # the 8-step chain exponentially (observed: fd exhaustion from
    # hundreds of re-opened base scans).
    its, prev = [], "v0"
    for k in range(1, iters + 1):
        its.append(f"""
w{k} AS MATERIALIZED (
  SELECT cr.i AS i, sum(cr.c * {prev}.v) AS w
  FROM cr JOIN {prev} ON cr.j = {prev}.i GROUP BY cr.i),
m{k} AS MATERIALIZED (SELECT max(abs(w)) // 1024 + 1 AS m FROM w{k}),
v{k} AS MATERIALIZED (
  SELECT i, CASE WHEN w < 0 THEN -((-w) // m)
                 ELSE w // m END AS v
  FROM w{k} CROSS JOIN m{k})""")
        prev = f"v{k}"
    return f"""
WITH x AS MATERIALIZED (
  SELECT vec_id AS r, idx.i AS i,
         CAST(floor(CAST(embedding[idx.i] AS DOUBLE) * 1024 + 0.5)
              AS BIGINT) AS xq
  FROM embeddings
  CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) idx),
nn AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
s AS MATERIALIZED (SELECT i, sum(xq) AS s FROM x GROUP BY i),
y AS MATERIALIZED (
  SELECT r, x.i, nn.n * xq - s.s AS y
  FROM x JOIN s ON x.i = s.i CROSS JOIN nn),
c AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, sum(a.y * b.y) AS c
  FROM y a JOIN y b ON a.r = b.r GROUP BY a.i, b.i),
d AS MATERIALIZED (SELECT max(abs(c)) // 262144 + 1 AS d FROM c),
cr AS MATERIALIZED (
  SELECT i, j, CASE WHEN c < 0 THEN -((-c) // d)
                    ELSE c // d END AS c
  FROM c CROSS JOIN d),
v0 AS MATERIALIZED (
  SELECT i, CAST(1 AS BIGINT) AS v FROM s),{','.join(its)},
vv AS (SELECT sum(v * v) AS vv FROM v{iters}),
vcv AS (SELECT sum(a.v * cr.c * b.v) AS vcv
        FROM cr JOIN v{iters} a ON cr.i = a.i
                JOIN v{iters} b ON cr.j = b.i)
SELECT CAST(s.i AS INT) AS dim,
       CAST(s.s AS DOUBLE) / 1024.0 / nn.n AS mean_val,
       CAST(v{iters}.v AS DOUBLE) / sqrt(CAST(vv.vv AS DOUBLE))
         AS loading_pc1,
       CAST(vcv.vcv AS DOUBLE) * d.d / CAST(vv.vv AS DOUBLE)
         / (nn.n * nn.n) / 1048576.0 AS eigval
FROM s JOIN v{iters} ON s.i = v{iters}.i
CROSS JOIN vv CROSS JOIN vcv CROSS JOIN d CROSS JOIN nn
"""


def _pca_pc2_oracle(dim: int = 64, iters: int = 8) -> str:
    """PC2 chain: the PC1 CTEs (for cr, v8 = q, vv = q·q) plus 8
    orthogonalized power steps — o = t·vv − (t·q)·q is EXACTLY
    orthogonal to q in integers; products overflow int64 so the
    orthogonalization runs in HUGEINT."""
    chain = _pca_oracle(dim, iters)
    chain = chain[:chain.index("vcv AS")].rstrip().rstrip(",")
    steps, prev = [], "u0"
    for k in range(1, iters + 1):
        steps.append(f"""
t{k} AS MATERIALIZED (
  SELECT cr.i AS i, sum(cr.c * {prev}.v) AS t
  FROM cr JOIN {prev} ON cr.j = {prev}.i GROUP BY cr.i),
d{k} AS MATERIALIZED (
  SELECT sum(t{k}.t * v{iters}.v) AS d
  FROM t{k} JOIN v{iters} ON t{k}.i = v{iters}.i),
o{k} AS MATERIALIZED (
  SELECT t{k}.i,
         CAST(t{k}.t AS HUGEINT) * vv.vv
           - CAST(d{k}.d AS HUGEINT) * v{iters}.v AS o
  FROM t{k} JOIN v{iters} ON t{k}.i = v{iters}.i
  CROSS JOIN d{k} CROSS JOIN vv),
mm{k} AS MATERIALIZED (
  SELECT max(abs(o)) // 1024 + 1 AS m FROM o{k}),
u{k} AS MATERIALIZED (
  SELECT i, CASE WHEN o < 0 THEN -((-o) // m)
                 ELSE o // m END AS v
  FROM o{k} CROSS JOIN mm{k})""")
        prev = f"u{k}"
    return chain + f""",
u0 AS MATERIALIZED (
  SELECT i, CASE WHEN (i - 1) % 2 = 0 THEN CAST(1 AS BIGINT)
                 ELSE CAST(-1 AS BIGINT) END AS v
  FROM s),{','.join(steps)},
uu AS (SELECT sum(v * v) AS uu FROM u{iters}),
ucu AS (
  SELECT sum(a.v * cr.c * b.v) AS ucu
  FROM cr JOIN u{iters} a ON cr.i = a.i
          JOIN u{iters} b ON cr.j = b.i),
uq AS (
  SELECT sum(u{iters}.v * v{iters}.v) AS uq
  FROM u{iters} JOIN v{iters} ON u{iters}.i = v{iters}.i)
SELECT CAST(u{iters}.i AS INT) AS dim,
       CAST(u{iters}.v AS DOUBLE) / sqrt(CAST(uu.uu AS DOUBLE))
         AS loading_pc2,
       CAST(ucu.ucu AS DOUBLE) * d.d / CAST(uu.uu AS DOUBLE)
         / (nn.n * nn.n) / 1048576.0 AS eigval2,
       CAST(uq.uq AS DOUBLE)
         / (sqrt(CAST(uu.uu AS DOUBLE)) * sqrt(CAST(vv.vv AS DOUBLE)))
         AS cos_with_pc1
FROM u{iters} CROSS JOIN uu CROSS JOIN ucu CROSS JOIN uq
CROSS JOIN d CROSS JOIN nn CROSS JOIN vv
"""


def _pca_projection_oracle(dim: int = 64, iters: int = 8) -> str:
    """Same integer chain as _pca_oracle, but the final SELECT applies
    the iterate as a projection: per-row integer dot v·xq, rolled up
    per label (min/max exact ints, mean an exact-operand division)."""
    chain = _pca_oracle(dim, iters)
    chain = chain[:chain.index("SELECT CAST(s.i AS INT)")]
    return chain + f""",
dots AS MATERIALIZED (
  SELECT x.r, sum(x.xq * v{iters}.v) AS dot
  FROM x JOIN v{iters} ON x.i = v{iters}.i GROUP BY x.r)
SELECT CAST(e.label AS INT) AS label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(dot) AS BIGINT) AS min_dot,
       CAST(max(dot) AS BIGINT) AS max_dot,
       CAST(sum(dot) AS DOUBLE) / count(*) AS mean_dot
FROM dots JOIN embeddings e ON e.vec_id = dots.r
GROUP BY e.label
"""


#: sf_dir → (n, S, C, v, D, cr): the PCA sufficient statistics and
#: 8-step iterate are index METADATA (d ints / d² ints) shared by the
#: loading report and the projection pass — built once per process,
#: the shared_parquet discipline applied to driver-side state.
_PCA_CACHE: dict[str, tuple] = {}


def _pca_state(spark: SparkSession, sf_dir: str) -> tuple:
    if sf_dir not in _PCA_CACHE:
        import time

        from map_reduce_mongodb_spark import cache
        from map_reduce_mongodb_spark.operators.pca import (
            gram_matrix_int, power_iteration_int)
        t0 = time.perf_counter()
        emb = table(spark, "embeddings", sf_dir)
        n, S, C = gram_matrix_int(emb)
        v, D, cr = power_iteration_int(C)
        # First-payer attribution, same as shared_parquet builds.
        cache._BUILD_SECONDS[f"pca_state_{sf_dir}"] = round(
            time.perf_counter() - t0, 3)
        _PCA_CACHE[sf_dir] = (n, S, C, v, D, cr)
    return _PCA_CACHE[sf_dir]


@query("embedding_pca_power_iteration", oracle=_pca_oracle())
def q_embedding_pca_power_iteration(spark: SparkSession, sf_dir: str
                                    ) -> DataFrame:
    """First principal component of the embedding table by EXACT
    integer arithmetic: per-dim means, PC1 loadings (8-step power
    iterate), and the PC1 variance share numerator (Rayleigh
    quotient) — the anisotropy diagnostic behind embedding-space
    whitening ("is the space collapsing onto one direction?").
    Distributed work is two passes over the corpus
    (`operators/pca.py:gram_matrix_int`): an integer per-dim sum and
    one mapInPandas pass emitting per-partition int64 yᵀy partials
    (d² rows each — exact numpy matmul, map-side combinable); the
    d×d scatter matrix is index-metadata-sized (the IVF-centroid
    precedent) and the 8 quantized power steps run on it driver-side,
    mirrored line-for-line by the oracle's unrolled CTEs. Both
    engines produce the SAME integers at every step (quantization
    floor(x·2^10 + 0.5), reduction div 2^18, per-step cap div 2^10,
    all divisions sign·(abs div m)), so the final doubles — computed
    with identical operand order from exact-representable ints — are
    bit-identical with NO rounding. Convergence is not part of the
    contract: both engines report the same deterministic 8-step
    iterate."""
    import math

    n, S, C, v, D, cr = _pca_state(spark, sf_dir)
    dim = len(S)
    vv = sum(x * x for x in v)
    vcv = sum(v[i] * cr[i][j] * v[j]
              for i in range(dim) for j in range(dim))
    sq = math.sqrt(float(vv))
    eig = float(vcv) * D / float(vv) / (n * n) / 1048576.0
    rows = [(i + 1,
             float(S[i]) / 1024.0 / n,
             float(v[i]) / sq,
             eig) for i in range(dim)]
    return spark.createDataFrame(
        rows, "dim int, mean_val double, loading_pc1 double, "
              "eigval double")


@query("embedding_pc1_projection", oracle=_pca_projection_oracle())
def q_embedding_pc1_projection(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """The PCA index APPLIED corpus-wide: every embedding projected
    onto the integer PC1 iterate (dot v·xq — exact int64), rolled up
    per label (n, min/max projection, exact-operand mean) — the
    "do the labels separate along the dominant axis?" readout, and
    the map-only projection pass whitening/2-D-visualization
    pipelines run after fitting. The 8-step iterate is reused from
    the process-wide `_pca_state` memo (metadata, built once — the
    shared-artifact discipline); the projection itself is fully
    distributed JVM work: posexplode + broadcast join against the
    64-row loading table + one map-side-combined dot aggregate,
    no Python in the hot path. The oracle re-derives the whole
    integer chain and the same dots."""
    n, S, C, v, D, cr = _pca_state(spark, sf_dir)
    emb = table(spark, "embeddings", sf_dir)
    vdf = spark.createDataFrame(
        [(i, int(vi)) for i, vi in enumerate(v)], "i int, v long")
    x = emb.select("vec_id", "label",
                   F.posexplode("embedding").alias("i", "x"))
    xq = F.floor(F.col("x").cast("double") * 1024 + F.lit(0.5)) \
        .cast("long")
    dots = (x.select("vec_id", "label", F.col("i"), xq.alias("xq"))
            .join(F.broadcast(vdf), "i")
            .groupBy("vec_id", "label")
            .agg(F.sum(F.col("xq") * F.col("v")).alias("dot")))
    return (dots.groupBy(F.col("label").cast("int").alias("label"))
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.min("dot").cast("long").alias("min_dot"),
                 F.max("dot").cast("long").alias("max_dot"),
                 (F.sum("dot").cast("double") / F.count(F.lit(1)))
                 .alias("mean_dot")))


_PCA2_CACHE: dict[str, list] = {}


def _pca2_state(spark: SparkSession, sf_dir: str) -> list:
    """The PC2 iterate, memoized beside `_pca_state` (same
    index-metadata rationale; consumed by the PC2 report and the 2-D
    scatter binning)."""
    if sf_dir not in _PCA2_CACHE:
        from map_reduce_mongodb_spark.operators.pca import (
            power_iteration_deflated)
        n, S, C, v, D, cr = _pca_state(spark, sf_dir)
        _PCA2_CACHE[sf_dir] = power_iteration_deflated(cr, v)
    return _PCA2_CACHE[sf_dir]


@query("embedding_pca_second_component", oracle=_pca_pc2_oracle())
def q_embedding_pca_second_component(spark: SparkSession, sf_dir: str
                                     ) -> DataFrame:
    """Second principal component by EXACT-INTEGER deflated power
    iteration: same quantized scatter matrix as
    `embedding_pca_power_iteration` (shared `_pca_state` memo), but
    each step orthogonalizes the iterate against the PC1 iterate
    with the fraction-free identity o = t·(q·q) − (t·q)·q (o ⟂ q
    exactly, in integers — classic deflation needs a rational λ) —
    giving the 2-D projection basis embedding-visualization and
    whitening pipelines actually use. The per-step cap truncation is
    deterministic and identical in both engines; intermediates pass
    2^64 so the oracle orthogonalizes in HUGEINT while Python ints
    are unbounded. Reports the loadings, the PC2 Rayleigh eigenvalue,
    and cos(PC2, PC1) — the orthogonality diagnostic (≈0 by
    construction, exact-operand doubles, no rounding anywhere)."""
    import math

    n, S, C, v, D, cr = _pca_state(spark, sf_dir)
    dim = len(S)
    u = _pca2_state(spark, sf_dir)
    uu = sum(x * x for x in u)
    vvq = sum(x * x for x in v)
    ucu = sum(u[i] * cr[i][j] * u[j]
              for i in range(dim) for j in range(dim))
    uq = sum(u[i] * v[i] for i in range(dim))
    squ = math.sqrt(float(uu))
    eig2 = float(ucu) * D / float(uu) / (n * n) / 1048576.0
    cosv = float(uq) / (squ * math.sqrt(float(vvq)))
    rows = [(i + 1, float(u[i]) / squ, eig2, cosv)
            for i in range(dim)]
    return spark.createDataFrame(
        rows, "dim int, loading_pc2 double, eigval2 double, "
              "cos_with_pc1 double")


def _pca_scatter_oracle(dim: int = 64, iters: int = 8,
                        bins: int = 16) -> str:
    """2-D projection histogram: the PC2 chain (which embeds the PC1
    chain) + one integer dot per component per row + non-negative
    integer binning over the observed ranges."""
    chain = _pca_pc2_oracle(dim, iters)
    chain = chain[:chain.index("uu AS (SELECT")].rstrip().rstrip(",")
    return chain + f""",
pj1 AS MATERIALIZED (
  SELECT x.r, sum(x.xq * v{iters}.v) AS dot
  FROM x JOIN v{iters} ON x.i = v{iters}.i GROUP BY x.r),
pj2 AS MATERIALIZED (
  SELECT x.r, sum(x.xq * u{iters}.v) AS dot
  FROM x JOIN u{iters} ON x.i = u{iters}.i GROUP BY x.r),
rng AS (
  SELECT min(pj1.dot) AS mn1, max(pj1.dot) AS mx1,
         min(pj2.dot) AS mn2, max(pj2.dot) AS mx2
  FROM pj1 JOIN pj2 ON pj1.r = pj2.r),
bb AS (
  SELECT pj1.r,
         ((pj1.dot - rng.mn1) * {bins})
           // (rng.mx1 - rng.mn1 + 1) AS bin1,
         ((pj2.dot - rng.mn2) * {bins})
           // (rng.mx2 - rng.mn2 + 1) AS bin2
  FROM pj1 JOIN pj2 ON pj1.r = pj2.r CROSS JOIN rng)
SELECT CAST(bb.bin1 AS INT) AS bin1, CAST(bb.bin2 AS INT) AS bin2,
       CAST(e.label AS INT) AS label,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM bb JOIN embeddings e ON e.vec_id = bb.r
GROUP BY bb.bin1, bb.bin2, e.label
"""


@query("embedding_pca_scatter_bins", oracle=_pca_scatter_oracle())
def q_embedding_pca_scatter_bins(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """The 2-D embedding map, materialized: every vector projected
    onto the (PC1, PC2) integer basis and binned into a 16×16 grid
    with per-label counts — the scatter-plot artifact an embedding-
    space dashboard renders, produced without floats (integer dots,
    non-negative integer binning over the observed ranges, so `div`
    and `//` agree). The projection pass is one posexplode + ONE
    broadcast join against the 64-row two-column loading table (both
    dots in the same map-side-combined aggregate — not a pass per
    component); binning needs one 4-value broadcast range scalar.
    The oracle re-derives both iterates and every dot."""
    n, S, C, v, D, cr = _pca_state(spark, sf_dir)
    u = _pca2_state(spark, sf_dir)
    emb = table(spark, "embeddings", sf_dir)
    vu = spark.createDataFrame(
        [(i, int(a), int(b)) for i, (a, b) in enumerate(zip(v, u))],
        "i int, v long, u long")
    x = emb.select("vec_id", "label",
                   F.posexplode("embedding").alias("i", "x"))
    xq = F.floor(F.col("x").cast("double") * 1024 + F.lit(0.5)) \
        .cast("long")
    dots = (x.select("vec_id", "label", "i", xq.alias("xq"))
            .join(F.broadcast(vu), "i")
            .groupBy("vec_id", "label")
            .agg(F.sum(F.col("xq") * F.col("v")).alias("dot1"),
                 F.sum(F.col("xq") * F.col("u")).alias("dot2")))
    from map_reduce_mongodb_spark.cache import tracked_persist
    dots = tracked_persist(dots)
    rng = dots.agg(F.min("dot1").alias("mn1"), F.max("dot1").alias("mx1"),
                   F.min("dot2").alias("mn2"), F.max("dot2").alias("mx2"))
    b1 = F.expr("((dot1 - mn1) * 16) div (mx1 - mn1 + 1)")
    b2 = F.expr("((dot2 - mn2) * 16) div (mx2 - mn2 + 1)")
    return (dots.crossJoin(F.broadcast(rng))
            .select(b1.cast("int").alias("bin1"),
                    b2.cast("int").alias("bin2"),
                    F.col("label").cast("int").alias("label"))
            .groupBy("bin1", "bin2", "label")
            .agg(F.count(F.lit(1)).alias("n_vecs")))


@query("brand_weighted_median_price", oracle="""
WITH v AS (
  SELECT p.p_brand AS brand, l.l_extendedprice AS price,
         CAST(l.l_quantity AS BIGINT) AS w
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
t AS (SELECT brand, CAST(sum(w) AS BIGINT) AS n
      FROM v GROUP BY brand),
r AS (
  SELECT v.brand, price, w,
         sum(w) OVER (PARTITION BY v.brand ORDER BY price
                      ROWS UNBOUNDED PRECEDING) AS cw,
         t.n
  FROM v JOIN t ON v.brand = t.brand)
SELECT brand, n AS total_qty,
       min(price) FILTER (WHERE cw >= (n + 1) // 2)
         AS weighted_median_price
FROM r GROUP BY brand, n
""")
def q_brand_weighted_median_price(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """EXACT quantity-weighted median price per brand — "the price at
    which half the UNITS (not half the line items) sell" — the
    weighted order statistic `grouped_order_statistic` computes when
    given a weight column: the bucket histogram aggregates weight
    sums instead of counts, the target rank is (Σw + 1) div 2, and
    the bucket-scoped finish takes the smallest price whose running
    weight reaches the residual offset. Same two-phase scale shape as
    the unweighted form (no per-group data sort); the part join feeds
    the brand key un-hinted — part scales with SF (2.6 TB at SF 100k),
    so AQE broadcasts it at small SF and shuffles at scale. The
    oracle states it as the classic cumulative-weight window; the
    median is an exact data value — no rounding."""
    from map_reduce_mongodb_spark.operators.quantiles import (
        grouped_order_statistic)
    li = table(spark, "lineitem", sf_dir)
    p = table(spark, "part", sf_dir)
    v = (li.join(p.select("p_partkey", "p_brand"),
                 li["l_partkey"] == p["p_partkey"])
         .select(F.col("p_brand").alias("brand"),
                 F.col("l_extendedprice").alias("price"),
                 F.col("l_quantity").cast("long").alias("w")))
    med = grouped_order_statistic(
        v, ["brand"], "price", weight_col="w",
        bucket=F.floor(F.col("price") / 100), out_col="wm")
    return med.select("brand", F.col("n").cast("long").alias("total_qty"),
                      F.col("wm").alias("weighted_median_price"))


#: table → its integer primary-key expression (lineitem's is the
#: composite (orderkey, linenumber) packed into one BIGINT).
_CHECKSUM_KEYS = {
    "region": "r_regionkey", "nation": "n_nationkey",
    "customer": "c_custkey", "supplier": "s_suppkey",
    "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_orderkey * 8 + l_linenumber",
    "events": "event_id", "documents": "doc_id",
    "embeddings": "vec_id",
}


def _checksums_oracle() -> str:
    parts = []
    for t, k in _CHECKSUM_KEYS.items():
        parts.append(f"""
SELECT '{t}' AS table_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({k}) AS BIGINT) AS key_sum,
       bit_xor(CAST(('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 15))
         AS BIGINT)) AS key_md5_xor
FROM {t}""")
        # noqa: E501
    return "\nUNION ALL".join(parts)


@query("table_integrity_checksums", oracle=_checksums_oracle())
def q_table_integrity_checksums(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Anti-entropy audit across the whole catalog: per table, the
    row count, primary-key sum, and an order-insensitive md5-XOR of
    the keys — the replica-comparison / post-migration verification
    sweep ("did every row make it, exactly once?"). Count catches
    loss, key-sum catches loss+duplication trades, and the md5-XOR
    catches substituted keys the linear sum misses; all three are
    mergeable (map-side combinable, commutative), so at 100 TB each
    table contributes one pass with no shuffle beyond a scalar.
    Cross-engine: the same UNION of aggregates; lineitem's composite
    key packs into one BIGINT."""
    outs = []
    for t, k in _CHECKSUM_KEYS.items():
        d = table(spark, t, sf_dir)
        key = F.expr(k)
        outs.append(d.agg(
            F.lit(t).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(key).cast("long").alias("key_sum"),
            F.bit_xor(F.conv(F.substring(F.md5(key.cast("string")),
                                         1, 15), 16, 10).cast("long"))
            .alias("key_md5_xor")))
    out = outs[0]
    for d in outs[1:]:
        out = out.unionByName(d)
    return out


@query("props_key_signatures", oracle="""
SELECT array_to_string(list_sort(json_keys(props)), ',')
         AS key_signature,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types
FROM events
GROUP BY 1
""")
def q_props_key_signatures(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Semi-structured schema-drift audit: the distinct KEY SETS
    appearing in the JSON `props` column (sorted, comma-joined into a
    canonical signature) with their frequencies — the governance
    readout that catches a producer silently adding/dropping fields
    (the schemaless-document risk SURVEY §1.3 flags in the reference's
    empty Mongo schemas). JSON parsing is JVM-side in both engines
    (`json_object_keys` / `json_keys`); sorting makes the signature
    key-order-insensitive, so only genuine schema changes split
    groups. One map-side-combined aggregate; the signature space is
    bounded by real schema variants, not row count."""
    e = table(spark, "events", sf_dir)
    sig = F.array_join(F.array_sort(F.json_object_keys("props")), ",")
    return (e.groupBy(sig.alias("key_signature"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("event_type").alias("n_event_types")))


@query("brand_theilsen_slope", oracle="""
WITH wk AS (
  SELECT p.p_brand,
         date_diff('day', DATE '1992-01-01',
                   CAST(o.o_orderdate AS DATE)) // 7 AS x,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
              AS BIGINT) AS cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey),
w2 AS (SELECT p_brand, x, CAST(sum(cents) AS BIGINT) AS y
       FROM wk GROUP BY 1, 2),
pr AS (
  SELECT a.p_brand, CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
  FROM w2 a JOIN w2 b ON a.p_brand = b.p_brand AND a.x < b.x),
r AS (
  SELECT p_brand, slope,
         row_number() OVER (PARTITION BY p_brand ORDER BY slope) AS rn,
         count(*) OVER (PARTITION BY p_brand) AS n
  FROM pr)
SELECT p_brand, CAST(max(n) AS BIGINT) AS n_pairs,
       min(CASE WHEN rn = (n + 1) // 2 THEN slope END)
         AS theilsen_slope
FROM r GROUP BY p_brand
""")
def q_brand_theilsen_slope(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Theil–Sen robust trend per brand: the MEDIAN of all pairwise
    weekly-revenue slopes — the estimator that shrugs off the outlier
    weeks that drag `brand_revenue_trend`'s least-squares line (up to
    ~29% contamination). Scale shape: the only fact-sized work is the
    same integer-cents weekly rollup; the O(weeks²) pair expansion
    runs over the CALENDAR-BOUNDED weekly aggregate (≈360 weeks →
    ~65k pairs per brand, independent of row count), and the slope
    median is `grouped_order_statistic` over the continuous slopes
    (third consumer: unweighted, weighted, and now pair-derived).
    Slopes divide exact ints identically in both engines — the
    median is bit-exact, no rounding."""
    from map_reduce_mongodb_spark.cache import tracked_persist
    from map_reduce_mongodb_spark.operators.quantiles import (
        grouped_order_statistic)
    li = table(spark, "lineitem", sf_dir)
    o = table(spark, "orders", sf_dir)
    p = table(spark, "part", sf_dir)
    wk = (li.join(o, li.l_orderkey == o.o_orderkey)
          .join(p.select("p_partkey", "p_brand"),
                li.l_partkey == p.p_partkey)
          .select("p_brand",
                  F.expr("datediff(cast(o_orderdate as date), "
                         "date'1992-01-01') div 7").alias("x"),
                  F.expr("CAST(round(l_extendedprice * "
                         "(1 - l_discount) * 100) AS BIGINT)")
                  .alias("cents")))
    w2 = tracked_persist(
        wk.groupBy("p_brand", "x").agg(F.sum("cents").alias("y")))
    a, b = w2.alias("a"), w2.alias("b")
    dx = F.col("b.x") - F.col("a.x")
    # NULL-guarded divisor: ANSI codegen can evaluate the fused
    # projection before the residual a.x < b.x filter discards the
    # dx = 0 rows — x / NULL is NULL instead of DIVIDE_BY_ZERO, and
    # no guarded row survives the join condition anyway.
    pr = (a.join(b, (F.col("a.p_brand") == F.col("b.p_brand"))
                 & (F.col("a.x") < F.col("b.x")))
          .select(F.col("a.p_brand").alias("p_brand"),
                  ((F.col("b.y") - F.col("a.y")).cast("double")
                   / F.when(dx != 0, dx)).alias("slope")))
    med = grouped_order_statistic(
        pr, ["p_brand"], "slope",
        bucket=F.expr("floor(slope / 65536)"),
        out_col="theilsen_slope")
    return med.select("p_brand",
                      F.col("n").cast("long").alias("n_pairs"),
                      "theilsen_slope")


@query("l_diversity_audit", oracle="""
WITH sens AS (
  SELECT c_nationkey, c_mktsegment,
         CASE WHEN c_acctbal < 0 THEN 'debt'
              WHEN c_acctbal < 5000 THEN 'low'
              ELSE 'high' END AS band
  FROM customer),
eq AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(count(*) AS BIGINT) AS class_size,
         CAST(count(DISTINCT band) AS BIGINT) AS diversity
  FROM sens GROUP BY 1, 2)
SELECT l,
       CAST(count(*) FILTER (WHERE diversity < l) AS BIGINT)
         AS classes_below_l,
       CAST(coalesce(sum(class_size) FILTER (WHERE diversity < l), 0)
            AS BIGINT) AS rows_at_risk
FROM eq CROSS JOIN (SELECT unnest(range(2, 4)) AS l) ls
GROUP BY l
""")
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's stronger sibling: a
    quasi-identifier class is exposed not just when it is SMALL but
    when every member shares the same SENSITIVE value (here an
    account-balance band), letting an attacker learn the attribute
    without re-identifying anyone. Per (nation, segment) class:
    distinct sensitive bands; the l-sweep (l ∈ {2,3}) counts
    classes below l and the customer rows they expose. Same plan
    economics as `k_anonymity_audit`: one fact-sized map-side-
    combined class aggregate, then a broadcast 2-row sweep over the
    QI-bounded class table."""
    c = table(spark, "customer", sf_dir)
    band = (F.when(F.col("c_acctbal") < 0, "debt")
            .when(F.col("c_acctbal") < 5000, "low").otherwise("high"))
    eq = (c.select("c_nationkey", "c_mktsegment", band.alias("band"))
          .groupBy("c_nationkey", "c_mktsegment")
          .agg(F.count(F.lit(1)).alias("class_size"),
               F.countDistinct("band").alias("diversity")))
    ls = spark.range(2, 4).select(F.col("id").cast("int").alias("l"))
    below = F.col("diversity") < F.col("l")
    return (eq.crossJoin(F.broadcast(ls))
            .groupBy("l")
            .agg(F.count_if(below).alias("classes_below_l"),
                 F.coalesce(F.sum(F.when(below, F.col("class_size"))),
                            F.lit(0)).cast("long")
                 .alias("rows_at_risk")))


@query("customer_cohort_ltv", oracle="""
WITH fo AS (
  SELECT o_custkey,
         min(date_diff('day', DATE '1992-01-01',
                       CAST(o_orderdate AS DATE)) // 91) AS cohort_q
  FROM orders GROUP BY o_custkey),
rev AS (
  SELECT o.o_custkey,
         date_diff('day', DATE '1992-01-01',
                   CAST(o.o_orderdate AS DATE)) // 91 AS q,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o),
tri AS (
  SELECT fo.cohort_q, rev.q - fo.cohort_q AS age_q,
         sum(rev.cents) AS cents,
         count(DISTINCT rev.o_custkey) AS actives
  FROM rev JOIN fo ON rev.o_custkey = fo.o_custkey
  GROUP BY fo.cohort_q, rev.q - fo.cohort_q),
size_ AS (
  SELECT cohort_q, CAST(count(*) AS BIGINT) AS cohort_customers
  FROM fo GROUP BY cohort_q)
SELECT t.cohort_q, t.age_q,
       CAST(t.actives AS BIGINT) AS active_customers,
       s.cohort_customers,
       CAST(t.cents AS DOUBLE) / 100.0 AS revenue,
       CAST(sum(t.cents) OVER (PARTITION BY t.cohort_q
                               ORDER BY t.age_q
                               ROWS UNBOUNDED PRECEDING)
            AS DOUBLE) / 100.0 / s.cohort_customers
         AS cum_ltv_per_customer
FROM tri t JOIN size_ s ON t.cohort_q = s.cohort_q
""")
def q_customer_cohort_ltv(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by
    first-order quarter, revenue accumulated by quarters-since-first
    — the money twin of `user_retention_weekly`'s count triangle and
    the standard LTV payback readout. Revenue is exact integer cents
    end-to-end (the running LTV sum is an integer window over the
    calendar-bounded cohort×age triangle — never the fact table);
    quarter arithmetic is integer day-div-91 in both engines (the
    months_between trap from NOTES). Two fact-sized map-side
    aggregates (first-order, revenue rollup) + one customer-keyed
    equi-join."""
    o = table(spark, "orders", sf_dir)
    q = F.expr("datediff(cast(o_orderdate as date), "
               "date'1992-01-01') div 91")
    fo = (o.groupBy("o_custkey")
          .agg(F.min(q).alias("cohort_q")))
    rev = o.select("o_custkey", q.alias("q"),
                   F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                   .alias("cents"))
    tri = (rev.join(fo, "o_custkey")
           .groupBy("cohort_q",
                    (F.col("q") - F.col("cohort_q")).alias("age_q"))
           .agg(F.sum("cents").alias("cents"),
                F.countDistinct("o_custkey").alias("actives")))
    size = fo.groupBy("cohort_q").agg(
        F.count(F.lit(1)).alias("cohort_customers"))
    wcum = (Window.partitionBy("cohort_q").orderBy("age_q")
            .rowsBetween(Window.unboundedPreceding, 0))
    return (tri.join(F.broadcast(size), "cohort_q")
            .select("cohort_q", "age_q",
                    F.col("actives").cast("long")
                    .alias("active_customers"),
                    "cohort_customers",
                    (F.col("cents").cast("double") / 100.0)
                    .alias("revenue"),
                    (F.sum("cents").over(wcum).cast("double")
                     / 100.0 / F.col("cohort_customers"))
                    .alias("cum_ltv_per_customer")))


@query("source_doclen_ks_drift", oracle="""
WITH h AS (
  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY source, n_chars),
t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM h
      GROUP BY source),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM t a JOIN t b ON a.source < b.source),
j AS (
  SELECT p.sa, p.sb, h.v,
         CASE WHEN h.source = p.sa THEN h.c ELSE 0 END AS ca,
         CASE WHEN h.source = p.sb THEN h.c ELSE 0 END AS cb
  FROM pairs p JOIN h ON h.source = p.sa OR h.source = p.sb),
g AS (SELECT sa, sb, v, sum(ca) AS ca, sum(cb) AS cb
      FROM j GROUP BY sa, sb, v),
c AS (
  SELECT sa, sb,
         sum(ca) OVER (PARTITION BY sa, sb ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cca,
         sum(cb) OVER (PARTITION BY sa, sb ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS ccb
  FROM g)
SELECT c.sa AS source_a, c.sb AS source_b, ta.n AS n_a, tb.n AS n_b,
       CAST(max(abs(cca * tb.n - ccb * ta.n)) AS BIGINT) AS ks_num,
       CAST(max(abs(cca * tb.n - ccb * ta.n)) AS DOUBLE)
         / (ta.n * tb.n) AS ks
FROM c JOIN t ta ON c.sa = ta.source JOIN t tb ON c.sb = tb.source
GROUP BY c.sa, c.sb, ta.n, tb.n
""")
def q_source_doclen_ks_drift(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test between every pair of
    sources over the document-length distribution — the
    distribution-level drift detector beside `lang_source_chi2`
    (categorical) and `source_quality_ttest` (means): KS catches
    shape changes moments miss. EXACT: the statistic is
    max |CDF_a − CDF_b| computed cross-multiplied in integers
    (|cca·n_b − ccb·n_a|), one exact division at the end. Scale
    shape: the fact table collapses to a (source, length, count)
    histogram first (map-side combined); pair expansion and the CDF
    windows run over the HISTOGRAM (sources² × distinct lengths),
    never the corpus."""
    d = table(spark, "documents", sf_dir)
    h = (d.groupBy("source", F.col("n_chars").alias("v"))
         .agg(F.count(F.lit(1)).alias("c")))
    from map_reduce_mongodb_spark.cache import tracked_persist
    h = tracked_persist(h)
    t = h.groupBy("source").agg(F.sum("c").alias("n"))
    a, b = t.alias("a"), t.alias("b")
    pairs = (a.join(b, F.col("a.source") < F.col("b.source"))
             .select(F.col("a.source").alias("sa"),
                     F.col("b.source").alias("sb"),
                     F.col("a.n").alias("n_a"),
                     F.col("b.n").alias("n_b")))
    j = (h.join(F.broadcast(pairs),
                (F.col("source") == F.col("sa"))
                | (F.col("source") == F.col("sb")))
         .select("sa", "sb", "n_a", "n_b", "v",
                 F.when(F.col("source") == F.col("sa"), F.col("c"))
                 .otherwise(F.lit(0)).alias("ca"),
                 F.when(F.col("source") == F.col("sb"), F.col("c"))
                 .otherwise(F.lit(0)).alias("cb")))
    g = (j.groupBy("sa", "sb", "n_a", "n_b", "v")
         .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb")))
    w = (Window.partitionBy("sa", "sb").orderBy("v")
         .rowsBetween(Window.unboundedPreceding, 0))
    c = (g.withColumn("cca", F.sum("ca").over(w))
         .withColumn("ccb", F.sum("cb").over(w)))
    dev = F.abs(F.col("cca") * F.col("n_b")
                - F.col("ccb") * F.col("n_a"))
    return (c.groupBy(F.col("sa").alias("source_a"),
                      F.col("sb").alias("source_b"),
                      "n_a", "n_b")
            .agg(F.max(dev).cast("long").alias("ks_num"),
                 (F.max(dev).cast("double")
                  / (F.col("n_a") * F.col("n_b"))).alias("ks")))


@query("brand_winsorized_stats", oracle="""
WITH v AS (
  SELECT p.p_brand AS brand,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
r AS (
  SELECT brand, cents,
         row_number() OVER (PARTITION BY brand ORDER BY cents) AS rn,
         count(*) OVER (PARTITION BY brand) AS n
  FROM v),
b AS (
  SELECT brand, CAST(max(n) AS BIGINT) AS n,
         min(CASE WHEN rn = (n + 19) // 20 THEN cents END) AS lo,
         min(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END) AS hi
  FROM r GROUP BY brand)
SELECT v.brand, b.n,
       CAST(b.lo AS DOUBLE) / 100.0 AS p5_price,
       CAST(b.hi AS DOUBLE) / 100.0 AS p95_price,
       CAST(sum(CASE WHEN v.cents < b.lo THEN b.lo
                     WHEN v.cents > b.hi THEN b.hi
                     ELSE v.cents END) AS DOUBLE) / 100.0 / b.n
         AS wins_mean,
       CAST(count(*) FILTER (WHERE v.cents < b.lo) AS BIGINT)
         AS n_clipped_low,
       CAST(count(*) FILTER (WHERE v.cents > b.hi) AS BIGINT)
         AS n_clipped_high
FROM v JOIN b ON v.brand = b.brand
GROUP BY v.brand, b.n, b.lo, b.hi
""")
def q_brand_winsorized_stats(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Winsorized (p5/p95-clipped) price statistics per brand — the
    outlier-robust normalization applied before any mean-based
    comparison: both clip bounds are EXACT order statistics from ONE
    `grouped_order_statistics` call with custom ranks ((n+19) div 20
    and (19n+19) div 20 — both bounds share a single histogram pass
    and sliver probe), and the clipped mean accumulates exact integer
    cents so the final doubles are exact-operand divisions, no
    rounding. Scale shape: one histogram selection + one clip
    aggregate over the fact table, all map-side combinable; the
    bounds join back as a broadcast brand-sized table."""
    from map_reduce_mongodb_spark.cache import tracked_persist
    from map_reduce_mongodb_spark.operators.quantiles import (
        grouped_order_statistics)
    li = table(spark, "lineitem", sf_dir)
    p = table(spark, "part", sf_dir)
    v = tracked_persist(
        li.join(p.select("p_partkey", "p_brand"),
                li["l_partkey"] == p["p_partkey"])
        .select(F.col("p_brand").alias("brand"),
                F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
                .alias("cents")))
    bkt = F.expr("cents div 100000")
    b = (grouped_order_statistics(
            v, ["brand"], "cents",
            {"lo": "(n + 19) div 20", "hi": "(19 * n + 19) div 20"},
            bucket=bkt)
         .select("brand", F.col("n").cast("long").alias("n"),
                 "lo", "hi"))
    clip = (F.when(F.col("cents") < F.col("lo"), F.col("lo"))
            .when(F.col("cents") > F.col("hi"), F.col("hi"))
            .otherwise(F.col("cents")))
    return (v.join(F.broadcast(b), "brand")
            .groupBy("brand", "n", "lo", "hi")
            .agg((F.sum(clip).cast("double") / 100.0 / F.col("n"))
                 .alias("wins_mean"),
                 F.count_if(F.col("cents") < F.col("lo"))
                 .alias("n_clipped_low"),
                 F.count_if(F.col("cents") > F.col("hi"))
                 .alias("n_clipped_high"))
            .select("brand", "n",
                    (F.col("lo").cast("double") / 100.0)
                    .alias("p5_price"),
                    (F.col("hi").cast("double") / 100.0)
                    .alias("p95_price"),
                    "wins_mean", "n_clipped_low", "n_clipped_high"))


@query("vocab_growth_heaps", oracle=r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS w
  FROM documents WHERE length(trim(text)) > 0),
pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS c
       FROM tok GROUP BY doc_id),
fw AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY w),
ks AS (SELECT unnest([10, 25, 50, 100, 250, 500, 1000]) AS k),
tk AS (
  SELECT ks.k,
         CAST(sum(CASE WHEN pd.doc_id < ks.k THEN pd.c ELSE 0 END)
              AS BIGINT) AS n_tokens
  FROM pd CROSS JOIN ks GROUP BY ks.k),
ty AS (
  SELECT ks.k,
         CAST(sum(CASE WHEN fw.fd < ks.k THEN 1 ELSE 0 END)
              AS BIGINT) AS n_types
  FROM fw CROSS JOIN ks GROUP BY ks.k)
SELECT tk.k, tk.n_tokens, ty.n_types,
       CAST(ty.n_types AS DOUBLE) / tk.n_tokens AS type_token_ratio
FROM tk JOIN ty ON tk.k = ty.k
WHERE tk.n_tokens > 0
""")
def q_vocab_growth_heaps(spark: SparkSession, sf_dir: str
                         ) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: distinct word types vs
    running token count over growing corpus prefixes (first k docs
    by id) — the estimator behind tokenizer-vocab sizing and
    "how much NEW text is this crawl really adding" curation calls.
    Scale shape: tokens collapse once to a per-doc count table
    (doc-bounded) and a word→first-doc table (vocab-bounded,
    map-side-combined min); the 7-point threshold sweep is a
    broadcast cross join over those AGGREGATES — the corpus is never
    rescanned per checkpoint. All integers; one exact-operand TTR
    division."""
    d = (table(spark, "documents", sf_dir)
         .where(F.length(F.trim(F.col("text"))) > 0))
    tok = d.select("doc_id",
                   F.explode(F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+"))
                   .alias("w"))
    pd_ = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    fw = tok.groupBy("w").agg(F.min("doc_id").alias("fd"))
    ks = (spark.range(1)
          .select(F.explode(F.array(*[F.lit(k) for k in
                                      (10, 25, 50, 100, 250, 500,
                                       1000)])).alias("k")))
    tk = (pd_.crossJoin(F.broadcast(ks)).groupBy("k")
          .agg(F.sum(F.when(F.col("doc_id") < F.col("k"), F.col("c"))
                     .otherwise(F.lit(0))).cast("long")
               .alias("n_tokens")))
    ty = (fw.crossJoin(F.broadcast(ks)).groupBy("k")
          .agg(F.count_if(F.col("fd") < F.col("k")).alias("n_types")))
    return (tk.join(ty, "k").where(F.col("n_tokens") > 0)
            .select("k", "n_tokens", "n_types",
                    (F.col("n_types").cast("double")
                     / F.col("n_tokens")).alias("type_token_ratio")))


_ASSORT_NUM = "CAST(m AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb"
_ASSORT_DEN = ("sqrt(CAST(m AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)"
               " * sqrt(CAST(m AS DOUBLE) * sbb"
               " - CAST(sb AS DOUBLE) * sb)")


@query("dup_graph_assortativity", oracle=_CC_CTE + f"""
, deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
          FROM edges GROUP BY src),
ed AS (
  SELECT da.d AS da, db.d AS db
  FROM edges e
  JOIN deg da ON e.src = da.src
  JOIN deg db ON e.dst = db.src),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         sum(da) AS sa, sum(db) AS sb, sum(da * db) AS sab,
         sum(da * da) AS saa, sum(db * db) AS sbb
  FROM ed)
SELECT m AS n_directed_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       round(({_ASSORT_NUM}) / ({_ASSORT_DEN}), 6) AS assortativity
FROM m
WHERE ({_ASSORT_DEN}) > 0
""")
def q_dup_graph_assortativity(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Degree assortativity of the near-dup graph: the Pearson
    correlation of endpoint degrees over all (symmetric) edges —
    negative means hubs attach to leaves (template/boilerplate
    star shapes), positive means dense mutual-dup cliques; it picks
    the hub-handling strategy the same way `dup_graph_degree_hist`
    picks whether one is needed. EXACT integer moments (degrees are
    ints; m, Σd, Σd², Σd_a·d_b all map-side-combined), one shared
    Pearson formula TEXT across engines (the brand_qty_price_corr
    discipline). Reads the shared 0.7-Jaccard pair table; the only
    joins attach the vocab-bounded degree table to the edge list."""
    pairs = _jaccard_pairs_07(spark, sf_dir).select("id_a", "id_b")
    sym = symmetrize(pairs)
    deg = sym.groupBy("id_a").agg(F.count(F.lit(1)).alias("d"))
    # n_nodes as a LAZY broadcast 1-row aggregate (the dup_graph_stats
    # form), not deg.count(): an eager driver action here ran the
    # degree aggregate at DataFrame-BUILD time (mis-attributed to the
    # build phase in bench) and then again inside the returned plan
    # (r9 review; "no .count() on the driver" — dup_graph_pagerank).
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    ed = (sym.join(deg.select(F.col("id_a").alias("_s"),
                              F.col("d").alias("da")),
                   sym["id_a"] == F.col("_s"))
          .join(deg.select(F.col("id_a").alias("_t"),
                           F.col("d").alias("db")),
                sym["id_b"] == F.col("_t"))
          .select("da", "db"))
    mrow = ed.agg(F.count(F.lit(1)).alias("m"),
                  F.sum("da").alias("sa"), F.sum("db").alias("sb"),
                  F.sum(F.expr("da * db")).alias("sab"),
                  F.sum(F.expr("da * da")).alias("saa"),
                  F.sum(F.expr("db * db")).alias("sbb"))
    return (mrow.where(F.expr(_ASSORT_DEN) > 0)
            .crossJoin(F.broadcast(nn))
            .select(F.col("m").alias("n_directed_edges"),
                    "n_nodes",
                    F.round(F.expr(f"({_ASSORT_NUM}) / ({_ASSORT_DEN})"),
                            6).alias("assortativity")))


@query("lang_id_confusion", oracle=f"""
WITH pred AS ({_LANG_ID_ORACLE}),
m AS (
  SELECT labeled_lang, lang_guess,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY labeled_lang, lang_guess),
t AS (SELECT labeled_lang, CAST(sum(n_docs) AS BIGINT) AS row_n
      FROM m GROUP BY labeled_lang)
SELECT m.labeled_lang, m.lang_guess, m.n_docs,
       CAST(m.n_docs AS DOUBLE) / t.row_n AS row_share
FROM m JOIN t USING (labeled_lang)
""")
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the `lang_id` classifier against the
    labeled language — the model-evaluation rollup that turns a
    per-doc prediction listing into the readout that actually drives
    decisions (which language pairs confuse, how much 'und' fallback
    there is). The diagonal share per row is recall. Shares the
    classifier's exact scoring with `lang_id` (same functions/text
    helpers Spark-side, same oracle text wrapped as a CTE), so the
    two queries can never drift apart. One prediction pass + two
    bounded aggregates (|langs|² matrix)."""
    from map_reduce_mongodb_spark.functions import text as T
    docs = table(spark, "documents", sf_dir)
    pred = docs.select(F.col("lang").alias("labeled_lang"),
                       T.lang_guess(F.col("text")).alias("lang_guess"))
    m = (pred.groupBy("labeled_lang", "lang_guess")
         .agg(F.count(F.lit(1)).alias("n_docs")))
    t = m.groupBy("labeled_lang").agg(F.sum("n_docs").alias("row_n"))
    return (m.join(F.broadcast(t), "labeled_lang")
            .select("labeled_lang", "lang_guess", "n_docs",
                    (F.col("n_docs").cast("double") / F.col("row_n"))
                    .alias("row_share")))


def _threshold_sweep_oracle(thresholds=(0.7, 0.8, 0.9)) -> str:
    """Per threshold: its own recursive closure over the jac-filtered
    pair set (0.8/0.9 edges are subsets of the 0.7 table). The shingle
    and pair CTEs mirror _CC_CTE with the Jaccard value kept."""
    blocks, selects = [], []
    for t in thresholds:
        s = str(t).replace(".", "")
        blocks.append(f"""
e{s} AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pj WHERE jac >= {t}
  UNION
  SELECT id_b, id_a FROM pj WHERE jac >= {t}),
r{s}(id, r) AS (
  SELECT src, src FROM e{s}
  UNION
  SELECT e.src, r{s}.r FROM e{s} e JOIN r{s} ON e.dst = r{s}.id),
c{s} AS (SELECT id, min(r) AS cid FROM r{s} GROUP BY id),
s{s} AS (
  SELECT CAST({t} AS DOUBLE) AS threshold,
         (SELECT CAST(count(*) AS BIGINT) FROM pj WHERE jac >= {t})
           AS n_edges,
         CAST(sum(cnt) AS BIGINT) AS n_nodes,
         CAST(count(*) AS BIGINT) AS n_components,
         CAST(max(cnt) AS BIGINT) AS largest_component
  FROM (SELECT cid, count(*) AS cnt FROM c{s} GROUP BY cid))""")
        selects.append(f"SELECT * FROM s{s}")
    return (r"""
WITH RECURSIVE sh AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(w) - 2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w
        FROM documents)
  WHERE len(w) >= 3),
pj AS MATERIALIZED (
  SELECT id_a, id_b, jac FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
             AS jac
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(least(len(a.s), len(b.s)) AS DOUBLE)
          >= 0.7 * greatest(len(a.s), len(b.s)))
  WHERE jac >= 0.7),"""
            + ",".join(blocks) + "\n"
            + "\nUNION ALL\n".join(selects))


@query("dup_graph_threshold_sweep", oracle=_threshold_sweep_oracle())
def q_dup_graph_threshold_sweep(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Threshold-response sweep of the dedup knob: connected-
    component structure (edges, nodes, components, largest cluster)
    of the near-dup graph at Jaccard ≥ 0.7 / 0.8 / 0.9 — the curve a
    curation team reads before picking the dedup threshold (too low:
    one giant boilerplate component; too high: misses rewrites). The
    0.8/0.9 edge sets are FILTERS of the once-materialized 0.7 pair
    table (thresholds are monotone — no new pair generation), and the
    levels share ONE clustering via `operators/graph.py:
    cc_threshold_sweep` (SUPERNODE CONTRACTION, VERDICT r7 #1): full
    Kiveris CC runs only at the TOP threshold; each lower level
    contracts the known components to their min-id labels and
    re-clusters just the delta edges, composing labels as min-of-mins
    — at 100 TB the trillion-edge pair graph is CC'd once plus two
    near-trivial contracted passes, not three times (bench telemetry:
    `cc_rounds` now shows the 0.8/0.7 passes starting from contracted
    graphs). The three per-level edge counts collapse to ONE
    conditional aggregate over the shared pair table (3 ints —
    metadata) instead of three count jobs; per-level stats are
    cluster-size aggregates over the composed labels.

    Bench-attribution note (ADVICE r8): the edge-count aggregate (and
    the CC sweep it feeds) executes EAGERLY at DataFrame-construction
    time — the shared pair parquet is immutable so correctness is
    unaffected, but those jobs are timed as part of this query's
    build phase, not of executing the returned 3-row plan. Per-query
    bench deltas for the dedup family are therefore only
    interpretable family-wise (see NOTES_r8)."""
    from map_reduce_mongodb_spark.operators.graph import (
        cc_threshold_sweep)
    pairs = _jaccard_pairs_07(spark, sf_dir) \
        .select("id_a", "id_b", "jaccard")
    thresholds = [0.7, 0.8, 0.9]
    cnt = pairs.agg(*[
        F.sum((F.col("jaccard") >= t).cast("long")).alias(f"n{i}")
        for i, t in enumerate(thresholds)]).collect()[0]
    outs = []
    for i, (thr, lab) in enumerate(
            cc_threshold_sweep(pairs, "jaccard", thresholds)):
        sizes = lab.groupBy("cc").agg(F.count(F.lit(1)).alias("cnt"))
        outs.append(sizes.agg(
            F.lit(float(thr)).alias("threshold"),
            F.lit(int(cnt[f"n{i}"] or 0)).cast("long").alias("n_edges"),
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long")
            .alias("n_nodes"),
            F.count(F.lit(1)).alias("n_components"),
            F.coalesce(F.max("cnt"), F.lit(0)).cast("long")
            .alias("largest_component")))
    out = outs[0]
    for d in outs[1:]:
        out = out.unionByName(d)
    return out


@query("orderkey_contiguous_ranges", oracle="""
WITH k AS (SELECT DISTINCT o_orderkey AS key_ FROM orders),
r AS (
  SELECT key_,
         key_ - row_number() OVER (ORDER BY key_) AS grp
  FROM k),
g AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS run_len
  FROM r GROUP BY grp)
SELECT CAST(count(*) AS BIGINT) AS n_ranges,
       CAST(max(run_len) AS BIGINT) AS longest_range,
       CAST(sum(run_len) AS BIGINT) AS n_keys,
       (SELECT CAST(min(key_) AS BIGINT) FROM k) AS min_key,
       (SELECT CAST(max(key_) AS BIGINT) FROM k) AS max_key
FROM g
""")
def q_orderkey_contiguous_ranges(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """Key-space continuity audit (gaps-and-islands at scale): how
    many contiguous runs the order-key sequence breaks into, the
    longest run, and the covered bounds — the sequence-integrity /
    allocation-pattern check behind "did the loader skip a block?".
    The classic islands trick (key − rank) needs a GLOBAL rank — the
    textbook row_number() over a fact table is the single-partition
    trap, so the rank comes from `operators/prefix.py:
    distributed_cumsum` of 1s (two-pass range-partitioned scan; the
    oracle states the same statistic with the plain window). Runs
    then aggregate by (key − rank) map-side."""
    from map_reduce_mongodb_spark.operators.prefix import (
        distributed_cumsum)
    k = (table(spark, "orders", sf_dir)
         .select(F.col("o_orderkey").alias("key_")).distinct())
    r = distributed_cumsum(k, [F.col("key_")], F.lit(1), "rank")
    g = (r.select((F.col("key_") - F.col("rank")).alias("grp"))
         .groupBy("grp").agg(F.count(F.lit(1)).alias("run_len")))
    bounds = k.agg(F.min("key_").cast("long").alias("min_key"),
                   F.max("key_").cast("long").alias("max_key"))
    return (g.agg(F.count(F.lit(1)).alias("n_ranges"),
                  F.max("run_len").cast("long").alias("longest_range"),
                  F.sum("run_len").cast("long").alias("n_keys"))
            .crossJoin(F.broadcast(bounds)))


@query("cross_source_dup_matrix", oracle=_CC_CTE + """
, ds AS (SELECT doc_id, source FROM documents),
px AS (
  SELECT least(a.source, b.source) AS source_a,
         greatest(a.source, b.source) AS source_b
  FROM pairs p
  JOIN ds a ON p.id_a = a.doc_id
  JOIN ds b ON p.id_b = b.doc_id),
m AS (
  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_dup_pairs
  FROM px GROUP BY source_a, source_b),
tot AS (SELECT CAST(sum(n_dup_pairs) AS BIGINT) AS t FROM m)
SELECT m.source_a, m.source_b, m.n_dup_pairs,
       CAST(m.n_dup_pairs AS DOUBLE) / tot.t AS pair_share,
       CASE WHEN m.source_a = m.source_b THEN 1 ELSE 0 END
         AS within_source
FROM m CROSS JOIN tot
""")
def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Cross-source duplication matrix: which SOURCES duplicate each
    other — every near-dup pair mapped to its (source, source)
    cell (unordered, so A→B and B→A land together) — the provenance
    readout behind crawl-overlap decisions ("src3 is 80% re-crawl of
    src1; drop it") and the off-diagonal contamination check
    `dedup_rate_by_source`'s per-source rates can't see. Two id-keyed
    joins of the doc→source dimension onto the once-materialized 0.7
    pair table (un-hinted: the dimension is corpus-sized, so AQE
    broadcasts at small SF and shuffles at 100 TB), then a
    sources²-bounded aggregate with a broadcast total."""
    pairs = _jaccard_pairs_07(spark, sf_dir).select("id_a", "id_b")
    ds = table(spark, "documents", sf_dir).select("doc_id", "source")
    a = ds.select(F.col("doc_id").alias("id_a"),
                  F.col("source").alias("sa"))
    b = ds.select(F.col("doc_id").alias("id_b"),
                  F.col("source").alias("sb"))
    px = (pairs.join(a, "id_a")
          .join(b, "id_b")
          .select(F.least("sa", "sb").alias("source_a"),
                  F.greatest("sa", "sb").alias("source_b")))
    m = (px.groupBy("source_a", "source_b")
         .agg(F.count(F.lit(1)).alias("n_dup_pairs")))
    tot = m.agg(F.sum("n_dup_pairs").cast("long").alias("t"))
    return (m.crossJoin(F.broadcast(tot))
            .select("source_a", "source_b", "n_dup_pairs",
                    (F.col("n_dup_pairs").cast("double") / F.col("t"))
                    .alias("pair_share"),
                    F.when(F.col("source_a") == F.col("source_b"), 1)
                    .otherwise(0).alias("within_source")))


@query("repeat_customer_revenue_split", oracle="""
WITH co AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey),
seg AS (
  SELECT CASE WHEN n_orders = 1 THEN 'one_time'
              WHEN n_orders <= 5 THEN 'repeat_2_5'
              ELSE 'loyal_6_plus' END AS segment,
         n_orders, cents
  FROM co),
m AS (
  SELECT segment,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(n_orders) AS BIGINT) AS n_orders,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM seg GROUP BY segment),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM m)
SELECT m.segment, m.n_customers, m.n_orders,
       CAST(m.cents AS DOUBLE) / 100.0 AS revenue,
       CAST(m.cents AS DOUBLE) / tot.t AS revenue_share,
       CAST(m.cents AS DOUBLE) / 100.0 / m.n_customers
         AS revenue_per_customer
FROM m CROSS JOIN tot
""")
def q_repeat_customer_revenue_split(spark: SparkSession, sf_dir: str
                                    ) -> DataFrame:
    """One-time vs repeat vs loyal revenue decomposition — the
    retention-economics headline ("what share of revenue comes from
    repeat buyers?"). One customer-keyed rollup (map-side combined)
    feeds a 3-segment CASE bucketing; exact integer cents throughout,
    shares and per-customer averages as exact-operand divisions (the
    unrounded-doubles discipline from customer_cohort_ltv). Broadcast
    scalar total."""
    o = table(spark, "orders", sf_dir)
    co = (o.groupBy("o_custkey")
          .agg(F.count(F.lit(1)).alias("n_orders"),
               F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
               .alias("cents")))
    seg = (F.when(F.col("n_orders") == 1, "one_time")
           .when(F.col("n_orders") <= 5, "repeat_2_5")
           .otherwise("loyal_6_plus"))
    m = (co.select(seg.alias("segment"), "n_orders", "cents")
         .groupBy("segment")
         .agg(F.count(F.lit(1)).alias("n_customers"),
              F.sum("n_orders").cast("long").alias("n_orders"),
              F.sum("cents").cast("long").alias("cents")))
    tot = m.agg(F.sum("cents").cast("long").alias("t"))
    return (m.crossJoin(F.broadcast(tot))
            .select("segment", "n_customers", "n_orders",
                    (F.col("cents").cast("double") / 100.0)
                    .alias("revenue"),
                    (F.col("cents").cast("double") / F.col("t"))
                    .alias("revenue_share"),
                    (F.col("cents").cast("double") / 100.0
                     / F.col("n_customers"))
                    .alias("revenue_per_customer")))


@query("events_seasonal_anomaly", oracle="""
WITH cell AS (
  SELECT (dayofweek(ts) + 6) % 7 AS dow, CAST(hour(ts) AS INT) AS hr,
         CAST(date_diff('day', DATE '2024-01-01',
                        CAST(ts AS DATE)) // 7 AS INT) AS week,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2, 3),
base AS (
  SELECT dow, hr, CAST(count(*) AS BIGINT) AS w,
         CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS ss
  FROM cell GROUP BY dow, hr),
loo AS (
  SELECT cell.dow, cell.hr, cell.week, cell.c,
         base.w - 1 AS w2, base.s - cell.c AS s2,
         base.ss - cell.c * cell.c AS ss2
  FROM cell JOIN base ON cell.dow = base.dow AND cell.hr = base.hr
  WHERE base.w >= 4)
SELECT dow, hr, week, c AS n_events,
       CAST(s2 AS DOUBLE) / w2 AS baseline_mean
FROM loo
WHERE (c * w2 - s2) > 0
  AND (c * w2 - s2) * (c * w2 - s2)
      > 4 * w2 * (w2 * ss2 - s2 * s2)
""")
def q_events_seasonal_anomaly(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Seasonal-baseline anomaly detection: each (day-of-week, hour,
    week) traffic cell tested against the OTHER weeks' same-weekday-
    hour baseline — the on-call alert rule ("Tuesday 9am is hot *for
    a Tuesday 9am*") a global z-score (`events_anomaly_zscore`)
    can't express. The baseline is LEAVE-ONE-OUT (w−1, s−c, ss−c²):
    with only a handful of weekly samples, a point inside its own
    baseline bounds its z² below (w−1)/w and a 2σ rule can NEVER
    fire — excluding the tested week restores an unbounded test.
    The 2σ rule is fully CROSS-MULTIPLIED into integers:
    c > mean' + 2σ' ⇔ (c·w' − s') > 0 ∧ (c·w' − s')² >
    4·w'·(w'·ss' − s'²) — no division, no sqrt, engine-exact flags
    (a zero-variance rest flags any positive deviation, the right
    degenerate case); the only double is the reported baseline mean.
    Both aggregates are calendar-bounded; dow is normalized to
    Monday-0 on both engines."""
    e = table(spark, "events", sf_dir)
    cell = (e.groupBy(
        ((F.dayofweek("ts") + 5) % 7).alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
        F.expr("CAST(datediff(cast(ts as date), date'2024-01-01') "
               "div 7 AS INT)").alias("week"))
        .agg(F.count(F.lit(1)).alias("c")))
    base = (cell.groupBy("dow", "hr")
            .agg(F.count(F.lit(1)).alias("w"),
                 F.sum("c").alias("s"),
                 F.sum(F.expr("c * c")).alias("ss")))
    loo = (cell.join(F.broadcast(base), ["dow", "hr"])
           .where(F.col("w") >= 4)
           .select("dow", "hr", "week", "c",
                   (F.col("w") - 1).alias("w2"),
                   (F.col("s") - F.col("c")).alias("s2"),
                   (F.col("ss") - F.col("c") * F.col("c"))
                   .alias("ss2")))
    dev = F.col("c") * F.col("w2") - F.col("s2")
    var4 = (4 * F.col("w2")
            * (F.col("w2") * F.col("ss2") - F.col("s2") * F.col("s2")))
    return (loo.where((dev > 0) & (dev * dev > var4))
            .select("dow", "hr", "week", F.col("c").alias("n_events"),
                    (F.col("s2").cast("double") / F.col("w2"))
                    .alias("baseline_mean")))


@query("nation_share_of_region", oracle="""
WITH rev AS (
  SELECT n.n_regionkey, n.n_name AS nation,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                             * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_regionkey, n.n_name),
reg AS (
  SELECT n_regionkey, CAST(sum(cents) AS BIGINT) AS region_cents
  FROM rev GROUP BY n_regionkey)
SELECT r.r_name AS region, rev.nation,
       CAST(rev.cents AS DOUBLE) / 100.0 AS revenue,
       CAST(rev.cents AS DOUBLE) / reg.region_cents AS share_of_region
FROM rev
JOIN reg ON rev.n_regionkey = reg.n_regionkey
JOIN region r ON rev.n_regionkey = r.r_regionkey
""")
def q_nation_share_of_region(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Share-of-parent rollup: each nation's supplier revenue as a
    fraction of its region's total — the two-level hierarchy ratio
    every BI drill-down renders. One fact-sized aggregate (exact
    integer cents, map-side combined): the supplier join is un-hinted
    (supplier scales with SF — AQE broadcasts at test scale, shuffles
    at 100 TB) while nation/region pin broadcast (25/5 rows at every
    SF); the parent totals re-aggregate the 25-row nation table and
    join back broadcast. Exact-operand divisions, no rounding."""
    li = table(spark, "lineitem", sf_dir)
    s = table(spark, "supplier", sf_dir)
    n = table(spark, "nation", sf_dir)
    r = table(spark, "region", sf_dir)
    cents = F.expr("CAST(round(l_extendedprice * (1 - l_discount) "
                   "* 100) AS BIGINT)")
    rev = (li.join(s.select("s_suppkey", "s_nationkey"),
                   li["l_suppkey"] == s["s_suppkey"])
           .join(F.broadcast(n.select("n_nationkey", "n_regionkey",
                                      "n_name")),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .groupBy("n_regionkey", F.col("n_name").alias("nation"))
           .agg(F.sum(cents).cast("long").alias("cents")))
    reg = (rev.groupBy("n_regionkey")
           .agg(F.sum("cents").cast("long").alias("region_cents")))
    return (rev.join(F.broadcast(reg), "n_regionkey")
            .join(F.broadcast(r), rev["n_regionkey"] == r["r_regionkey"])
            .select(F.col("r_name").alias("region"), "nation",
                    (F.col("cents").cast("double") / 100.0)
                    .alias("revenue"),
                    (F.col("cents").cast("double")
                     / F.col("region_cents")).alias("share_of_region")))


@query("dedup_token_savings", oracle=_CC_CTE + r"""
, tok AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT)
           AS toks
  FROM documents WHERE length(trim(text)) > 0),
drop_ AS (SELECT doc_id FROM cc WHERE doc_id <> cluster_id),
m AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(toks) AS BIGINT) AS tokens_all,
         CAST(count(*) FILTER (WHERE drop_.doc_id IS NOT NULL)
              AS BIGINT) AS n_dropped,
         CAST(coalesce(sum(toks) FILTER (
              WHERE drop_.doc_id IS NOT NULL), 0) AS BIGINT)
           AS tokens_dropped
  FROM tok LEFT JOIN drop_ ON tok.doc_id = drop_.doc_id
  GROUP BY source)
SELECT source, n_docs, tokens_all, n_dropped, tokens_dropped,
       CAST(tokens_dropped AS DOUBLE) / tokens_all AS savings_share
FROM m
""")
def q_dedup_token_savings(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """What near-dedup actually BUYS, in tokens: per source, the
    token budget before dedup, the tokens the non-canonical cluster
    members would have burned, and the savings share — the number
    that justifies the dedup pipeline's cost in a training-compute
    budget review (`dedup_rate_by_source` counts docs; compute cost
    scales with TOKENS, and boilerplate-heavy sources drop far more
    tokens than docs). One token-count scan + an id-keyed anti-ish
    LEFT join of the non-canonical label set (reads the
    once-materialized CC labels) — un-hinted, because the drop list
    scales with the corpus's duplicate count (AQE broadcasts it at
    small SF, shuffles at 100 TB); all integers, one exact
    division."""
    labels = _cc_labels(spark, sf_dir)
    drop = labels.where(F.col("id") != F.col("cc")) \
        .select(F.col("id").alias("doc_id"), F.lit(1).alias("_dup"))
    d = (table(spark, "documents", sf_dir)
         .where(F.length(F.trim(F.col("text"))) > 0))
    tok = d.select("doc_id", "source",
                   F.size(F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+"))
                   .cast("long").alias("toks"))
    j = tok.join(drop, "doc_id", "left")
    return (j.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("toks").cast("long").alias("tokens_all"),
                 F.count_if(F.col("_dup").isNotNull())
                 .alias("n_dropped"),
                 F.coalesce(F.sum(F.when(F.col("_dup").isNotNull(),
                                         F.col("toks"))), F.lit(0))
                 .cast("long").alias("tokens_dropped"))
            .withColumn("savings_share",
                        F.col("tokens_dropped").cast("double")
                        / F.col("tokens_all")))


@query("user_stickiness_ratio", oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
days AS (SELECT DISTINCT day FROM ud),
dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
wau AS (
  SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM days d JOIN ud u
    ON date_diff('day', u.day, d.day) BETWEEN 0 AND 6
  GROUP BY d.day)
SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
       CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
FROM dau JOIN wau ON dau.day = wau.day
""")
def q_user_stickiness_ratio(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """DAU/WAU stickiness per day — the product-engagement headline
    ("what fraction of this week's users showed up today?"). The
    trailing-7-day distinct count never runs a sliding window over
    the fact table: events collapse once to DISTINCT (user, day)
    (fact-sized, map-side), then each active day EXPLODES to the ≤7
    future days it contributes to and a second distinct-count
    aggregate per target day finishes — the bounded-fan-out plan of
    `events_sliding_distinct_users` at day grain (the oracle states
    it as the range join). Day-grain output, exact integers, one
    exact division."""
    e = table(spark, "events", sf_dir)
    ud = (e.select("user_id", F.to_date("ts").alias("day")).distinct())
    from map_reduce_mongodb_spark.cache import tracked_persist
    ud = tracked_persist(ud)
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    cover = (ud.select("user_id",
                       F.explode(F.sequence(
                           F.col("day"),
                           F.date_add(F.col("day"), 6)))
                       .alias("wday"))
             .join(days.select(F.col("day").alias("wday")).distinct(),
                   "wday", "left_semi"))
    wau = (cover.groupBy(F.col("wday").alias("day"))
           .agg(F.countDistinct("user_id").alias("wau")))
    return (dau.join(wau, "day")
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "dau", "wau",
                    (F.col("dau").cast("double") / F.col("wau"))
                    .alias("stickiness")))


@query("purchase_graph_hits", oracle="""
WITH e AS MATERIALIZED (
  SELECT o.o_custkey AS c, l.l_suppkey AS s,
         CAST(count(*) AS BIGINT) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, l.l_suppkey),
a0 AS MATERIALIZED (
  SELECT DISTINCT s, CAST(1 AS BIGINT) AS a FROM e),
h1 AS MATERIALIZED (
  SELECT e.c, sum(e.w * a0.a) AS h FROM e JOIN a0 ON e.s = a0.s
  GROUP BY e.c),
a1 AS MATERIALIZED (
  SELECT e.s, sum(e.w * h1.h) AS a FROM e JOIN h1 ON e.c = h1.c
  GROUP BY e.s),
h2 AS MATERIALIZED (
  SELECT e.c, sum(e.w * a1.a) AS h FROM e JOIN a1 ON e.s = a1.s
  GROUP BY e.c),
a2 AS MATERIALIZED (
  SELECT e.s, CAST(sum(e.w * h2.h) AS BIGINT) AS a
  FROM e JOIN h2 ON e.c = h2.c GROUP BY e.s)
SELECT s AS suppkey, a AS authority_int,
       CAST(a AS DOUBLE) / mx.mx AS authority
FROM a2 CROSS JOIN
  (SELECT CAST(max(a) AS DOUBLE) AS mx FROM a2) mx
""")
def q_purchase_graph_hits(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """HITS hubs-and-authorities over the bipartite customer→supplier
    purchase graph (edge weight = lineitem count): two full
    hub/authority rounds, reported as per-supplier authority — "who
    do the biggest buyers buy from", the mutual-reinforcement ranking
    PageRank's single-score random walk doesn't express. Fully
    DISTRIBUTED power steps (unlike `embedding_pca_power_iteration`'s
    metadata-sized matrix, this graph is data-sized): each half-step
    is one join against the persisted edge table + a map-side-
    combined sum — the `dup_graph_pagerank` plan shape — and the
    four steps chain into ONE linear DAG with no per-step
    renormalization: integer weights keep 2-round scores far inside
    int64 (|a2| ≤ (deg·w)³·deg_c ≈ 2·10¹³ even at sf1; ANSI mode
    turns a hypothetical overflow into a loud error, and the
    capped-division variant of `embedding_pca_power_iteration` is
    the documented fallback past that budget). An earlier capped
    version spent 21.8 s at sf0.1 on per-step cache+scalar jobs;
    this no-cap broadcast-step form runs the same sf in ~5 s — the
    residual cost is the 4 inherently sequential power-step jobs,
    the same profile as dup_graph_pagerank. Everything is an
    exact integer until the final presentation division, so the
    oracle's CTE chain (MATERIALIZED — DuckDB would otherwise inline
    reused steps exponentially) matches bit-for-bit, no rounding."""
    li = table(spark, "lineitem", sf_dir)
    o = table(spark, "orders", sf_dir)
    from map_reduce_mongodb_spark.cache import tracked_persist
    # Raw per-lineitem edges (w ≡ 1): the oracle's (c, s, count)
    # collapse is algebraically identical under the power-step sums,
    # and skipping the 587k-group pre-aggregation + shuffle join is
    # measurably faster. No broadcast hints anywhere: orders and the
    # hub/authority vectors are DIMENSION-sized (they scale with SF —
    # 1B+ rows at 100 TB), so strategy stays with the planner — the
    # 64 MB auto-threshold + AQE broadcast them at test scale, which
    # keeps the persisted edge table un-re-shuffled per step, and
    # degrade to shuffle hash joins at cluster scale where a forced
    # hint would OOM the executors.
    e = tracked_persist(
        li.join(o.select("o_orderkey", "o_custkey"),
                li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("c"),
                F.col("l_suppkey").alias("s")))
    a = e.select("s").distinct().withColumn("a", F.lit(1).cast("long"))
    for _ in range(2):
        h = (e.join(a, "s").groupBy("c")
             .agg(F.sum("a").alias("h")))
        a = (e.join(h, "c").groupBy("s")
             .agg(F.sum("h").alias("a")))
    a = tracked_persist(a)
    mx = a.agg(F.max("a").cast("double").alias("mx"))
    return (a.crossJoin(F.broadcast(mx))
            .select(F.col("s").alias("suppkey"),
                    F.col("a").alias("authority_int"),
                    (F.col("a").cast("double") / F.col("mx"))
                    .alias("authority")))


@query("negative_sampling_table", oracle=r"""
WITH w AS (
  SELECT unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS word
  FROM documents WHERE length(trim(text)) > 0),
c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt
      FROM w GROUP BY word),
wt AS (
  SELECT word, cnt,
         CAST(floor(sqrt(sqrt(CAST(cnt AS DOUBLE) * cnt * cnt))
                    * 1000) AS BIGINT) AS weight
  FROM c),
tot AS (SELECT CAST(sum(weight) AS BIGINT) AS t FROM wt)
SELECT word, cnt, weight,
       CAST(weight AS DOUBLE) / tot.t AS sample_prob
FROM (SELECT * FROM wt ORDER BY weight DESC, word LIMIT 30)
CROSS JOIN tot
""")
def q_negative_sampling_table(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """word2vec-style negative-sampling table: unigram counts raised
    to the 3/4 power (the Mikolov smoothing that keeps frequent words
    from dominating), integerized, and normalized into sampling
    probabilities — the artifact a skip-gram/contrastive trainer
    consumes. Exactness: c^0.75 is computed as sqrt(sqrt(c³)) — two
    correctly-rounded IEEE sqrts of an exact integer, identical in
    both engines, where a pow(c, 0.75) could differ by an ulp — then
    floored to integer milli-weights so the normalizing SUM is exact
    integer arithmetic (a float Σ over the vocabulary would be
    order-dependent). Map-side-combined count, TakeOrdered top-30
    cut, broadcast total."""
    d = (table(spark, "documents", sf_dir)
         .where(F.length(F.trim(F.col("text"))) > 0))
    c = (d.select(F.explode(F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+"))
                  .alias("word"))
         .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))
    wt = c.withColumn(
        "weight",
        F.floor(F.sqrt(F.sqrt(F.col("cnt").cast("double")
                              * F.col("cnt") * F.col("cnt")))
                * 1000).cast("long"))
    from map_reduce_mongodb_spark.cache import tracked_persist
    wt = tracked_persist(wt)
    tot = wt.agg(F.sum("weight").cast("long").alias("t"))
    top = wt.orderBy(F.desc("weight"), F.asc("word")).limit(30)
    return (top.crossJoin(F.broadcast(tot))
            .select("word", "cnt", "weight",
                    (F.col("weight").cast("double") / F.col("t"))
                    .alias("sample_prob")))


@query("event_burstiness_fano", oracle="""
WITH hc AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, date_trunc('hour', ts)),
m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS ss
  FROM hc GROUP BY event_type)
SELECT event_type, n AS n_hours, s AS n_events,
       CAST(s AS DOUBLE) / n AS mean_per_hour,
       CAST(n * ss - s * s AS DOUBLE) / (n * s) AS fano_factor
FROM m WHERE s > 0
""")
def q_event_burstiness_fano(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Burstiness (Fano factor = variance/mean of hourly counts) per
    event type: ≈1 means Poisson-like arrivals, >1 means bursts —
    the dispersion diagnostic that decides whether rate alerts need
    burst-aware baselines (`events_seasonal_anomaly`'s per-cell
    model) or plain thresholds. The factor reduces to one
    exact-operand division of integer moments — (n·Σc² − (Σc)²) /
    (n·Σc) — so no rounding; both aggregates are calendar-bounded
    and map-side combined."""
    e = table(spark, "events", sf_dir)
    hc = (e.groupBy("event_type",
                    F.date_trunc("hour", "ts").alias("hr"))
          .agg(F.count(F.lit(1)).alias("c")))
    m = (hc.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("c").alias("s"),
              F.sum(F.expr("c * c")).alias("ss")))
    return (m.where(F.col("s") > 0)
            .select("event_type",
                    F.col("n").cast("long").alias("n_hours"),
                    F.col("s").cast("long").alias("n_events"),
                    (F.col("s").cast("double") / F.col("n"))
                    .alias("mean_per_hour"),
                    (F.expr("n * ss - s * s").cast("double")
                     / F.expr("n * s")).alias("fano_factor")))


@query("user_longest_streak", oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
r AS (
  SELECT user_id, day,
         date_diff('day', DATE '2024-01-01', day)
           - row_number() OVER (PARTITION BY user_id ORDER BY day)
           AS grp
  FROM ud),
runs AS (
  SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
  FROM r GROUP BY user_id, grp),
longest AS (
  SELECT user_id, CAST(max(len) AS BIGINT) AS streak
  FROM runs GROUP BY user_id)
SELECT streak, CAST(count(*) AS BIGINT) AS n_users
FROM longest GROUP BY streak
""")
def q_user_longest_streak(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Longest consecutive-active-day streak per user, rolled up to a
    streak-length histogram — the engagement-streak metric behind
    habit/retention features (and the per-user twin of
    `orderkey_contiguous_ranges`' global islands). Per-user
    gaps-and-islands: rank windows partition by user (bounded by a
    user's active days — never global), runs aggregate map-side, and
    the histogram is bounded by the calendar span."""
    e = table(spark, "events", sf_dir)
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    r = ud.select(
        "user_id",
        (F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
         - F.row_number().over(w)).alias("grp"))
    runs = (r.groupBy("user_id", "grp")
            .agg(F.count(F.lit(1)).alias("len")))
    longest = (runs.groupBy("user_id")
               .agg(F.max("len").cast("long").alias("streak")))
    return (longest.groupBy("streak")
            .agg(F.count(F.lit(1)).alias("n_users")))


@query("supplier_rank_stability", oracle="""
WITH rev AS (
  SELECT l_suppkey AS s,
         CAST(sum(CASE WHEN year(l_shipdate) = 1995
                       THEN CAST(round(l_extendedprice * 100)
                                 AS BIGINT) ELSE 0 END) AS BIGINT)
           AS c1,
         CAST(sum(CASE WHEN year(l_shipdate) = 1996
                       THEN CAST(round(l_extendedprice * 100)
                                 AS BIGINT) ELSE 0 END) AS BIGINT)
           AS c2
  FROM lineitem
  WHERE year(l_shipdate) IN (1995, 1996)
  GROUP BY l_suppkey),
rk AS (
  SELECT s,
         row_number() OVER (ORDER BY c1 DESC, s) AS r1,
         row_number() OVER (ORDER BY c2 DESC, s) AS r2
  FROM rev),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum((r1 - r2) * (r1 - r2)) AS BIGINT) AS d2
  FROM rk)
SELECT n AS n_suppliers, d2 AS sum_sq_rank_diff,
       1.0 - CAST(6 * d2 AS DOUBLE) / (n * (n * n - 1))
         AS spearman_rho
FROM m WHERE n > 1
""")
def q_supplier_rank_stability(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Year-over-year rank stability of supplier revenue: Spearman's
    ρ between the 1995 and 1996 revenue rankings via the EXACT
    permutation identity ρ = 1 − 6Σd²/(n(n²−1)) — Σd² is a plain
    integer sum over rank differences, so the whole statistic is one
    exact-operand division (no float moments at all; ties broken
    deterministically by suppkey in BOTH engines, making the rank
    permutations identical). "Did the supplier league table reshuffle
    or hold?" — the concentration-dynamics readout beside
    `nation_supplier_hhi`'s point-in-time concentration. The rank
    windows run over the SUPPLIER-sized aggregate (dimension-bounded,
    never the fact table); the fact pass is one conditional
    integer-cents rollup."""
    li = table(spark, "lineitem", sf_dir)
    yr = F.year("l_shipdate")
    cents = F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    rev = (li.where(yr.isin(1995, 1996))
           .groupBy(F.col("l_suppkey").alias("s"))
           .agg(F.sum(F.when(yr == 1995, cents).otherwise(F.lit(0)))
                .cast("long").alias("c1"),
                F.sum(F.when(yr == 1996, cents).otherwise(F.lit(0)))
                .cast("long").alias("c2")))
    w1 = Window.orderBy(F.desc("c1"), F.asc("s"))
    w2 = Window.orderBy(F.desc("c2"), F.asc("s"))
    rk = rev.select("s", F.row_number().over(w1).alias("r1"),
                    F.row_number().over(w2).alias("r2"))
    m = rk.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.expr("(r1 - r2) * (r1 - r2)")).cast("long")
               .alias("d2"))
    return (m.where(F.col("n") > 1)
            .select(F.col("n").alias("n_suppliers"),
                    F.col("d2").alias("sum_sq_rank_diff"),
                    (F.lit(1.0) - F.expr("CAST(6 * d2 AS DOUBLE)")
                     / F.expr("n * (n * n - 1)"))
                    .alias("spearman_rho")))


@query("event_type_profile_similarity", oracle="""
WITH hw AS (
  SELECT event_type,
         ((dayofweek(ts) + 6) % 7) * 24 + hour(ts) AS slot,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, slot),
nrm AS (SELECT event_type, CAST(sum(c * c) AS BIGINT) AS n2
        FROM hw GROUP BY event_type),
dots AS (
  SELECT a.event_type AS ta, b.event_type AS tb,
         CAST(sum(a.c * b.c) AS BIGINT) AS dot
  FROM hw a JOIN hw b
    ON a.slot = b.slot AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type)
SELECT d.ta AS type_a, d.tb AS type_b,
       CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
                                * sqrt(CAST(nb.n2 AS DOUBLE)))
         AS profile_cosine
FROM dots d JOIN nrm na ON d.ta = na.event_type
            JOIN nrm nb ON d.tb = nb.event_type
""")
def q_event_type_profile_similarity(spark: SparkSession, sf_dir: str
                                    ) -> DataFrame:
    """Behavioral similarity between event types: cosine over their
    168-slot hour-of-week activity profiles — "do purchases follow
    the same temporal rhythm as clicks?", the profile-matching
    primitive behind metric grouping and synthetic-traffic detection
    (near-1.0 everywhere = generated load). The profiles are the
    calendar-bounded seasonality aggregate; the pair dots join on
    the 168 shared slots (the inverted-index shape again — |types|²
    never materializes unweighted); integer dots/norms, exact-operand
    cosine, no rounding. dow normalized Monday-0 as in
    events_seasonal_anomaly."""
    e = table(spark, "events", sf_dir)
    hw = (e.groupBy("event_type",
                    (((F.dayofweek("ts") + 5) % 7) * 24
                     + F.hour("ts")).alias("slot"))
          .agg(F.count(F.lit(1)).alias("c")))
    from map_reduce_mongodb_spark.cache import tracked_persist
    hw = tracked_persist(hw)
    nrm = hw.groupBy("event_type").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("n2"))
    a, b = hw.alias("a"), hw.alias("b")
    dots = (a.join(b, (F.col("a.slot") == F.col("b.slot"))
                   & (F.col("a.event_type") < F.col("b.event_type")))
            .groupBy(F.col("a.event_type").alias("ta"),
                     F.col("b.event_type").alias("tb"))
            .agg(F.sum(F.col("a.c") * F.col("b.c")).cast("long")
                 .alias("dot")))
    na = nrm.select(F.col("event_type").alias("ta"),
                    F.col("n2").alias("na"))
    nb = nrm.select(F.col("event_type").alias("tb"),
                    F.col("n2").alias("nb"))
    return (dots.join(F.broadcast(na), "ta")
            .join(F.broadcast(nb), "tb")
            .select(F.col("ta").alias("type_a"),
                    F.col("tb").alias("type_b"),
                    (F.col("dot").cast("double")
                     / (F.sqrt(F.col("na").cast("double"))
                        * F.sqrt(F.col("nb").cast("double"))))
                    .alias("profile_cosine")))


def _cf_purchase_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (customer, supplier, purchase-count) matrix — the
    lineitem⋈orders groupBy both CF twins score over — built ONCE per
    process via `cache.shared_parquet` (VERDICT r7 #2: each twin
    previously `tracked_persist`ed its own copy, paying the dominant
    join+agg twice; the ANN family got the same treatment in r7). At
    100 TB this is the interaction matrix a production recommender
    materializes to storage once and every scorer reads."""
    from map_reduce_mongodb_spark.cache import shared_parquet

    def build():
        li = table(spark, "lineitem", sf_dir)
        o = table(spark, "orders", sf_dir)
        return (li.join(o.select("o_orderkey", "o_custkey"),
                        li["l_orderkey"] == o["o_orderkey"])
                .groupBy(F.col("o_custkey").alias("c"),
                         F.col("l_suppkey").alias("s"))
                .agg(F.count(F.lit(1)).alias("w")))
    return shared_parquet(spark, f"cf_purchase_matrix_{sf_dir}", build)


@query("supplier_cf_similarity", oracle="""
WITH e AS (
  SELECT o.o_custkey AS c, l.l_suppkey AS s,
         CAST(count(*) AS BIGINT) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, l.l_suppkey),
nrm AS (SELECT s, CAST(sum(w * w) AS BIGINT) AS n2
        FROM e GROUP BY s),
dots AS (
  SELECT a.s AS sa, b.s AS sb, CAST(sum(a.w * b.w) AS BIGINT) AS dot
  FROM e a JOIN e b ON a.c = b.c AND a.s < b.s
  GROUP BY a.s, b.s),
sym AS (
  SELECT sa, sb, dot FROM dots
  UNION ALL
  SELECT sb, sa, dot FROM dots),
scored AS (
  SELECT sym.sa, sym.sb,
         CAST(sym.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
                                    * sqrt(CAST(nb.n2 AS DOUBLE)))
           AS cosine
  FROM sym JOIN nrm na ON sym.sa = na.s
           JOIN nrm nb ON sym.sb = nb.s)
SELECT sa AS suppkey, rank, sb AS neighbor, cosine
FROM (
  SELECT sa, sb, cosine,
         CAST(row_number() OVER (PARTITION BY sa
                                 ORDER BY cosine DESC, sb) AS INT)
           AS rank
  FROM scored)
WHERE rank <= 3
""")
def q_supplier_cf_similarity(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Item-item collaborative filtering: top-3 most-similar
    suppliers by cosine over their customer-purchase count vectors —
    the "customers who buy from X also buy from Y" recommender
    primitive. The pair dot-products come from the INVERTED-INDEX
    plan (self-join keyed by customer: only suppliers sharing a
    customer ever pair, cost Σ per-customer-fanout², never
    |suppliers|² — the `ngram_jaccard_pairs` shape on a purchase
    graph), norms are one map-side aggregate, and the top-3 cut is a
    per-supplier window over its candidate list with a deterministic
    (cosine desc, id) order. Integer dots and norms; cosine is an
    exact-operand double — identical in both engines, no rounding.
    Join strategy is left to the planner throughout: orders and the
    supplier-sized norm tables all scale with SF, so the 64 MB
    auto-broadcast threshold (+ AQE runtime switching) broadcasts
    them at test scale and shuffles at 100 TB where a forced hint
    would OOM. At 100 TB a hot mega-customer is the skew lever: cap
    its basket with `operators/skew.py:cap_group_fanout(e, "c",
    max_basket, order_col="s")` before the self-join (the max_df
    analogue — bounded max_basket² pairs per customer, deterministic
    survivor set; dial kept OFF here so the oracle check stays
    exact). The dial's own output contract is oracle-proven by the
    registered twin `supplier_cf_similarity_capped` (cap ON, small
    max_basket, same DuckDB-encoded deterministic cap) — the 100 TB
    configuration has its own hash-green row rather than a docstring
    promise (VERDICT r6 #4). The purchase matrix itself comes from
    the ONE shared build both twins read (`_cf_purchase_matrix`,
    VERDICT r7 #2)."""
    e = _cf_purchase_matrix(spark, sf_dir)
    nrm = e.groupBy("s").agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("n2"))
    return _cf_topk(e, nrm)


def _cf_topk(edges: DataFrame, nrm: DataFrame) -> DataFrame:
    """The CF scoring tail shared by the production query and its
    capped skew-dial gate (r9 review folded two verbatim ~30-line
    copies in here — the capped twin exists to certify the EXACT
    scoring the production query runs, so one drifting copy would
    silently desynchronize the gate from that it certifies): inverted-
    index self-join on the customer key, norm joins + cosine on the
    HALF (sa < sb) pair table, both directions exploded from one
    evaluation, per-supplier top-3.

    r13 (guide §2.3, VERDICT r12 #4): cosine is computed ONCE per
    undirected pair BEFORE the direction explode — cosine(a,b) ==
    cosine(b,a) exactly (IEEE multiplication is commutative, so
    sqrt(na)*sqrt(nb) == sqrt(nb)*sqrt(na) bit-for-bit and the oracle's
    per-direction recomputation yields the identical double). This
    halves the rows flowing through both norm joins and evaluates the
    divide once instead of twice. ``nrm`` is tracked_persist'ed: the
    r12-style both-branches fix — un-materialized, the supplier-norm
    aggregate subtree (a full scan + two-phase groupBy of the purchase
    matrix) appeared under BOTH norm-join broadcasts and executed
    twice per query (plans/r13/supplier_cf_similarity_before.txt,
    scans 14-18 vs 22-26). The persisted table is supplier-scaled —
    safe to materialize at any corpus scale."""
    from map_reduce_mongodb_spark.cache import tracked_persist
    a, b = edges.alias("a"), edges.alias("b")
    dots = (a.join(b, (F.col("a.c") == F.col("b.c"))
                   & (F.col("a.s") < F.col("b.s")))
            .groupBy(F.col("a.s").alias("sa"), F.col("b.s").alias("sb"))
            .agg(F.sum(F.col("a.w") * F.col("b.w")).cast("long")
                 .alias("dot")))
    nrm = tracked_persist(nrm)
    na = nrm.select(F.col("s").alias("sa"), F.col("n2").alias("na"))
    nb = nrm.select(F.col("s").alias("sb"), F.col("n2").alias("nb"))
    half = (dots.join(na, "sa")
            .join(nb, "sb")
            .select("sa", "sb",
                    (F.col("dot").cast("double")
                     / (F.sqrt(F.col("na").cast("double"))
                        * F.sqrt(F.col("nb").cast("double"))))
                    .alias("cosine")))
    # both directions from ONE evaluation of the join+score subtree (a
    # union would re-execute the dominant inverted-index join per
    # branch; an explode after the norm joins also halves their input
    # vs the pre-r13 explode-then-join order)
    scored = (half.select(F.explode(F.array(
                  F.struct("sa", "sb", "cosine"),
                  F.struct(F.col("sb").alias("sa"),
                           F.col("sa").alias("sb"), F.col("cosine")),
              )).alias("_p")).select("_p.*"))
    w = Window.partitionBy("sa").orderBy(F.desc("cosine"), F.asc("sb"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= 3)
            .select(F.col("sa").alias("suppkey"), "rank",
                    F.col("sb").alias("neighbor"), "cosine"))


@query("supplier_cf_similarity_capped", oracle="""
WITH e AS (
  SELECT o.o_custkey AS c, l.l_suppkey AS s,
         CAST(count(*) AS BIGINT) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, l.l_suppkey),
nrm AS (SELECT s, CAST(sum(w * w) AS BIGINT) AS n2
        FROM e GROUP BY s),
ecap AS (
  SELECT c, s, w FROM (
    SELECT c, s, w,
           row_number() OVER (PARTITION BY c ORDER BY s) AS rn
    FROM e)
  WHERE rn <= 8),
dots AS (
  SELECT a.s AS sa, b.s AS sb, CAST(sum(a.w * b.w) AS BIGINT) AS dot
  FROM ecap a JOIN ecap b ON a.c = b.c AND a.s < b.s
  GROUP BY a.s, b.s),
sym AS (
  SELECT sa, sb, dot FROM dots
  UNION ALL
  SELECT sb, sa, dot FROM dots),
scored AS (
  SELECT sym.sa, sym.sb,
         CAST(sym.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
                                    * sqrt(CAST(nb.n2 AS DOUBLE)))
           AS cosine
  FROM sym JOIN nrm na ON sym.sa = na.s
           JOIN nrm nb ON sym.sb = nb.s)
SELECT sa AS suppkey, rank, sb AS neighbor, cosine
FROM (
  SELECT sa, sb, cosine,
         CAST(row_number() OVER (PARTITION BY sa
                                 ORDER BY cosine DESC, sb) AS INT)
           AS rank
  FROM scored)
WHERE rank <= 3
""")
def q_supplier_cf_similarity_capped(spark: SparkSession, sf_dir: str
                                    ) -> DataFrame:
    """`supplier_cf_similarity` with the 100 TB skew dial ON: each
    customer's basket is capped at max_basket=8 suppliers via
    `operators/skew.py:cap_group_fanout(e, "c", 8, order_col="s")`
    BEFORE the inverted-index self-join, bounding every customer's
    pair contribution at 8² regardless of how hot a mega-customer
    gets (the uncapped Σ fanout² plan OOMed a 1 GB bare session at
    sf0.1 — NOTES_r6). The cap is deterministic because `s` is unique
    per `c` (e is grouped by (c, s)); the oracle encodes the SAME
    row_number cut, so this row proves the dial's exact output
    contract, not just that it runs (VERDICT r6 #4). Norms stay EXACT
    (computed from the uncapped vectors — the max_shingle_df
    convention: cheap per-key aggregate, no fanout² skew, and capped
    dots against true norms make the cosine a conservative
    under-estimate instead of a rescaled one). max_basket=8 is
    deliberately far below the sf0.01 median basket (33) so the cap
    provably bites at test scale; production would size it to the
    fanout knee. Reads the ONE shared purchase-matrix build
    (`_cf_purchase_matrix`, VERDICT r7 #2) — the cap then provably
    filters the same matrix instance the uncapped twin scores."""
    from map_reduce_mongodb_spark.operators.skew import cap_group_fanout
    e = _cf_purchase_matrix(spark, sf_dir)
    nrm = e.groupBy("s").agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("n2"))
    # norms from the UNCAPPED matrix (the certified contract: the cap
    # filters candidate pairs, not the supplier vectors), then the
    # ONE shared scoring tail the production twin runs
    return _cf_topk(cap_group_fanout(e, "c", 8, order_col="s"), nrm)


@query("audio_silence_runs", oracle=_AUDIO_BITS_CTE + """,
sil AS (SELECT doc_id, w_id FROM bits WHERE bit = 0),
isl AS (
  SELECT doc_id, w_id,
         w_id - row_number() OVER (PARTITION BY doc_id
                                   ORDER BY w_id) AS grp
  FROM sil),
runs AS (
  SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS len
  FROM isl GROUP BY doc_id, grp),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
         CAST(max(len) AS BIGINT) AS longest_run,
         CAST(sum(len) AS BIGINT) AS n_silent
  FROM runs GROUP BY doc_id)
SELECT tot.doc_id,
       coalesce(agg.n_silent, CAST(0 AS BIGINT)) AS n_silent_windows,
       coalesce(agg.n_runs, CAST(0 AS BIGINT)) AS n_runs,
       coalesce(agg.longest_run, CAST(0 AS BIGINT)) AS longest_run
FROM tot LEFT JOIN agg USING (doc_id)
""")
def q_audio_silence_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-segment profile per audio clip over REAL decoded PCM:
    windows strictly below the clip's mean energy (the fingerprint
    bit inverted — same exact-integer cross-multiplied threshold),
    collapsed into maximal consecutive runs — the VAD/trim curation
    signal ("is this clip mostly dead air?") for audio corpora. The
    Spark side scans runs inside the same Arrow-batched decode pass
    as `audio_fingerprint` (O(32) per clip, no extra shuffle); the
    oracle rebuilds every sample and finds the identical runs with
    gaps-and-islands (w_id − row_number). Empty windows of
    short clips break runs in both engines — absent rows break
    w_id-consecutiveness in SQL, and the operator mirrors that
    contract explicitly."""
    from map_reduce_mongodb_spark.operators.multimodal import (
        audio_silence_runs, media_from_documents)
    docs = table(spark, "documents", sf_dir).where(F.length("text") > 0)
    runs = audio_silence_runs(media_from_documents(docs))
    return runs.select(F.col("media_id").alias("doc_id"),
                       "n_silent_windows", "n_runs", "longest_run")


_JSONL_PATHS: dict[str, str] = {}


def _documents_jsonl(spark: SparkSession, sf_dir: str) -> str:
    """Write-once JSONL materialization of the documents table
    (process-temp, same lifecycle as cache.shared_parquet)."""
    if sf_dir not in _JSONL_PATHS:
        import re

        from map_reduce_mongodb_spark.cache import _shared_dir
        path = (_shared_dir() + "/documents_jsonl_"
                + re.sub(r"[^A-Za-z0-9_.-]+", "_", sf_dir))
        (table(spark, "documents", sf_dir)
         .write.mode("overwrite").json(path))
        _JSONL_PATHS[sf_dir] = path
    return _JSONL_PATHS[sf_dir]


@query("jsonl_roundtrip_documents", oracle=r"""
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(length(text)) AS BIGINT) AS total_text_len,
       bit_xor(CAST(('0x' || substr(
           md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15))
         AS BIGINT)) AS content_xor
FROM documents
GROUP BY source, lang
""")
def q_jsonl_roundtrip_documents(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """JSON source/sink surface, proven lossless: the documents table
    is written to JSONL (DataFrameWriter.json — the export envelope
    family, SURVEY P9/S4) and read back through `spark.read.json`
    with an EXPLICIT schema (schema-on-read: never infer in
    production — inference is a second full scan and drifts under
    sampling), then checksummed per (source, lang) with an md5-based
    content XOR over (doc_id | text). The oracle computes the same
    checksum from the PARQUET original — equality proves the JSON
    codec round-trips every document byte-for-byte (escapes,
    newlines, unicode) through the write+read path. At 100 TB the
    plan is unchanged: JSONL shards write/read partition-parallel,
    the checksum is one map-side-combined aggregate. Reference
    counterpart: harvest.js's JSON ingest (SURVEY S2), here exercised
    as a first-class columnar source."""
    path = _documents_jsonl(spark, sf_dir)
    d = spark.read.schema(
        "doc_id long, text string, lang string, source string, "
        "n_chars long").json(path)
    chk = F.conv(F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"),
                       F.col("text"))), 1, 15), 16, 10).cast("long")
    return (d.groupBy("source", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.sum(F.length("text")).cast("long")
                 .alias("total_text_len"),
                 F.bit_xor(chk).alias("content_xor")))


_CSV_PATHS: dict[str, str] = {}


def _lineitem_csv(spark: SparkSession, sf_dir: str) -> str:
    """Write-once CSV materialization of lineitem (header, explicit
    timestamp format with microseconds — the default CSV timestamp
    pattern truncates to millis, a silent lossy trap)."""
    if sf_dir not in _CSV_PATHS:
        import re

        from map_reduce_mongodb_spark.cache import _shared_dir
        path = (_shared_dir() + "/lineitem_csv_"
                + re.sub(r"[^A-Za-z0-9_.-]+", "_", sf_dir))
        (table(spark, "lineitem", sf_dir)
         .write.mode("overwrite").option("header", "true")
         .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
         .csv(path))
        _CSV_PATHS[sf_dir] = path
    return _CSV_PATHS[sf_dir]


@query("csv_roundtrip_lineitem", oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(l_orderkey * 8 + l_linenumber) AS BIGINT) AS key_sum,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS BIGINT) AS price_cents,
       bit_xor(CAST(('0x' || substr(md5(
           CAST(l_orderkey * 8 + l_linenumber AS VARCHAR) || '|'
           || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) || '|'
           || CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                   AS VARCHAR) || '|'
           || strftime(l_shipdate, '%Y-%m-%d')), 1, 15))
         AS BIGINT)) AS content_xor
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""")
def q_csv_roundtrip_lineitem(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """CSV source/sink surface, proven lossless: lineitem written to
    headered CSV and read back with an EXPLICIT schema (schema-on-
    read; CSV inference is both a second scan and a type lottery),
    then checksummed per (returnflag, linestatus) against the parquet
    original. The checksum fields are chosen to be FORMAT-STABLE:
    integer keys, integer quantities, integer cents, and the DATE
    part of the ship timestamp — float-to-text round-tripping is the
    CSV trap (Java and C++ print doubles differently), so the
    checksum never serializes a raw double; the microsecond
    timestampFormat override avoids the default pattern's silent
    millisecond truncation. One partition-parallel write + read +
    map-side-combined aggregate."""
    path = _lineitem_csv(spark, sf_dir)
    li = (spark.read.option("header", "true")
          .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .schema("l_orderkey long, l_partkey long, l_suppkey long, "
                  "l_linenumber int, l_quantity double, "
                  "l_extendedprice double, l_discount double, "
                  "l_tax double, l_returnflag string, "
                  "l_linestatus string, l_shipdate timestamp_ntz")
          .csv(path))
    key = F.expr("l_orderkey * 8 + l_linenumber")
    qty = F.col("l_quantity").cast("long")
    cents = F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    chk = F.conv(F.substring(F.md5(F.concat(
        key.cast("string"), F.lit("|"), qty.cast("string"),
        F.lit("|"), cents.cast("string"), F.lit("|"),
        F.date_format("l_shipdate", "yyyy-MM-dd"))), 1, 15), 16, 10) \
        .cast("long")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(key).cast("long").alias("key_sum"),
                 F.sum(qty).cast("long").alias("qty_sum"),
                 F.sum(cents).cast("long").alias("price_cents"),
                 F.bit_xor(chk).alias("content_xor")))


@query("orders_backlog_aging", oracle="""
WITH open_orders AS (
  SELECT o.o_orderkey, o.o_totalprice,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   DATE '1995-06-01') AS age
  FROM orders o
  WHERE CAST(o.o_orderdate AS DATE) <= DATE '1995-06-01'
    AND EXISTS (SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND CAST(l.l_shipdate AS DATE) > DATE '1995-06-01'))
SELECT CASE WHEN age <= 30 THEN '000-030'
            WHEN age <= 60 THEN '031-060'
            WHEN age <= 90 THEN '061-090'
            ELSE '091+' END AS age_bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_value,
       CAST(min(age) AS BIGINT) AS min_age,
       CAST(max(age) AS BIGINT) AS max_age
FROM open_orders
GROUP BY 1
""")
def q_orders_backlog_aging(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Backlog aging report as of a cutoff date: orders placed on or
    before the cutoff that still have undelivered lineitems after it,
    bucketed by how long they have been waiting — the accounts-
    receivable-style aging staple of operational BI. "Still open" is
    an EXISTS against post-cutoff shipments, planned as a SEMI join
    (one pass over lineitem, no fan-out, never materializing the
    match multiplicity); the aging histogram is a 4-bucket map-side-
    combined aggregate. Both engines bucket with identical integer
    day arithmetic."""
    o = table(spark, "orders", sf_dir)
    li = table(spark, "lineitem", sf_dir)
    cutoff = F.lit("1995-06-01").cast("date")
    still_open = li.where(F.to_date("l_shipdate") > cutoff) \
        .select("l_orderkey")
    oo = (o.where(F.to_date("o_orderdate") <= cutoff)
          .join(still_open, o["o_orderkey"] == still_open["l_orderkey"],
                "left_semi")
          .select("o_totalprice",
                  F.datediff(cutoff, F.to_date("o_orderdate"))
                  .cast("long").alias("age")))
    bucket = (F.when(F.col("age") <= 30, "000-030")
              .when(F.col("age") <= 60, "031-060")
              .when(F.col("age") <= 90, "061-090")
              .otherwise("091+"))
    return (oo.groupBy(bucket.alias("age_bucket"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_value"),
                 F.min("age").cast("long").alias("min_age"),
                 F.max("age").cast("long").alias("max_age")))


@query("feature_hashing_buckets", oracle="""
WITH fv AS (
  SELECT 'brand=' || p_brand AS f FROM part
  UNION ALL SELECT 'type=' || p_type FROM part
  UNION ALL SELECT 'size=' || CAST(p_size AS VARCHAR) FROM part),
h AS (
  SELECT f, CAST(('0x' || substr(md5(f), 1, 15)) AS BIGINT) % 256
         AS bucket
  FROM fv)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT f) AS BIGINT) AS n_features
FROM h GROUP BY bucket
""")
def q_feature_hashing_buckets(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """The hashing trick for ML featurization: categorical
    (name=value) features map to a fixed 256-bucket space via a
    stable hash — no vocabulary build, no global dictionary shuffle,
    the standard featurizer when the category space is unbounded.
    This query audits the bucket table itself: occupancy and DISTINCT
    features per bucket (the collision profile that decides whether
    the bucket count is big enough). md5 is the cross-engine-stable
    hash (the minhash_lsh_md5 convention: top-15 hex digits → BIGINT);
    Spark explodes the three features from one scan while the oracle
    states them as a UNION ALL. At 100 TB: one pass, map-side
    combinable, output bounded by the bucket count."""
    p = table(spark, "part", sf_dir)
    fv = p.select(F.explode(F.array(
        F.concat(F.lit("brand="), F.col("p_brand")),
        F.concat(F.lit("type="), F.col("p_type")),
        F.concat(F.lit("size="), F.col("p_size").cast("string")),
    )).alias("f"))
    bucket = (F.conv(F.substring(F.md5(F.col("f")), 1, 15), 16, 10)
              .cast("long") % 256)
    return (fv.select("f", bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.countDistinct("f").alias("n_features")))


@query("event_gap_p90", oracle="""
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events),
v AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
r AS (
  SELECT event_type, gap,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY gap) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v)
SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
       CAST(min(CASE WHEN rn = (n + 1) // 2 THEN gap END)
            AS DOUBLE) / 1000000.0 AS p50_seconds,
       CAST(min(CASE WHEN rn = (9 * n + 9) // 10 THEN gap END)
            AS DOUBLE) / 1000000.0 AS p90_seconds
FROM r GROUP BY event_type
""")
def q_event_gap_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90 of per-user inter-event gaps by event type — the
    latency-SLO percentile readout, on CONTINUOUS microsecond gaps.
    Gaps come from a per-user lag window (per-user partitions, never
    global); both percentiles are EXACT order statistics via ONE
    `operators/quantiles.py:grouped_order_statistics` call
    (minute-bucket histogram locates both targets, a bucket-scoped
    sort finishes — p90 is just rank (9n+9) div 10, the operator
    takes any integer rank expressions), so the per-user lag window
    and the histogram are computed once, not per percentile. Gap
    arithmetic is integer microseconds (`unix_micros`/`epoch_us` —
    never fractional-second datediff), so the only doubles are
    exact-int divisions by 10^6."""
    from map_reduce_mongodb_spark.operators.quantiles import (
        grouped_order_statistics)
    from map_reduce_mongodb_spark.functions.scalar import epoch_us_ntz
    e = table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us_ntz(F.col("ts"))  # zone-free on NTZ (ADVICE r7)
    g = (e.select("event_type",
                  (us - F.lag(us).over(w)).alias("gap"))
         .where(F.col("gap").isNotNull()))
    bkt = F.expr("gap div 60000000")
    pq = grouped_order_statistics(
        g, ["event_type"], "gap",
        {"p50": "(n + 1) div 2", "p90": "(9 * n + 9) div 10"},
        bucket=bkt)
    return (pq
            .select("event_type",
                    F.col("n").cast("long").alias("n_gaps"),
                    (F.col("p50").cast("double") / 1000000.0)
                    .alias("p50_seconds"),
                    (F.col("p90").cast("double") / 1000000.0)
                    .alias("p90_seconds")))


def _benford_oracle() -> str:
    import math
    probs = ", ".join(
        f"({d}, CAST({math.log10(1 + 1 / d)!r} AS DOUBLE))"
        for d in range(1, 10))
    return f"""
WITH probs(digit, p) AS (VALUES {probs}),
fd AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders),
cnt AS (SELECT digit, CAST(count(*) AS BIGINT) AS c
        FROM fd GROUP BY digit),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM fd),
j AS (
  SELECT probs.digit, probs.p,
         coalesce(cnt.c, CAST(0 AS BIGINT)) AS c, tot.n
  FROM probs LEFT JOIN cnt ON probs.digit = cnt.digit CROSS JOIN tot)
SELECT digit, c AS n_orders,
       CAST(c AS DOUBLE) / n AS observed_share,
       p AS benford_share,
       round(sum((c - n * p) * (c - n * p) / (n * p))
             OVER (), 6) AS chi2
FROM j
"""


@query("benford_first_digit", oracle=_benford_oracle())
def q_benford_first_digit(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed vs
    expected log10(1+1/d) share per leading digit plus the χ²
    statistic — the classic fraud/synthetic-data screen (and on this
    deliberately synthetic fixture, a large χ² is itself the correct
    finding). Exactness: the expected shares are PYTHON-COMPUTED
    literals embedded in both engines' plans (never engine log10 —
    libm implementations may differ by an ulp), digit extraction is
    integer/string arithmetic, and the χ² terms are built from exact
    ints with identical operand order, summed over a 9-row window.
    One map-side-combined digit count at any scale."""
    import math
    p = table(spark, "orders", sf_dir)
    fd = p.select(
        F.substring(F.floor("o_totalprice").cast("long").cast("string"),
                    1, 1).cast("int").alias("digit"))
    cnt = fd.groupBy("digit").agg(F.count(F.lit(1)).alias("c"))
    tot = fd.agg(F.count(F.lit(1)).alias("n"))
    probs = spark.createDataFrame(
        [(d, math.log10(1 + 1 / d)) for d in range(1, 10)],
        "digit int, p double")
    j = (probs.join(F.broadcast(cnt), "digit", "left")
         .crossJoin(F.broadcast(tot))
         .select("digit", "p",
                 F.coalesce(F.col("c"), F.lit(0).cast("long"))
                 .alias("c"), "n"))
    term = ((F.col("c") - F.col("n") * F.col("p"))
            * (F.col("c") - F.col("n") * F.col("p"))
            / (F.col("n") * F.col("p")))
    return j.select(
        "digit", F.col("c").alias("n_orders"),
        (F.col("c").cast("double") / F.col("n")).alias("observed_share"),
        F.col("p").alias("benford_share"),
        F.round(F.sum(term).over(Window.partitionBy()), 6)
        .alias("chi2"))


# Every rows-only (no-oracle) query names the oracle-checked twin (or
# pinning test) that proves its machinery exact, so a query without an
# oracle of its own still traces to hash-checked evidence. Checked by
# tests/test_registry.py.
ROWS_ONLY_GATES: dict[str, str] = {
    # the same dedup pipeline on its md5 lane, which DuckDB hash-checks
    "winnow_fingerprints_fast": "winnow_fingerprints",
    "winnow_dup_pairs_fast": "winnow_dup_pairs",
    "ngram_jaccard_pairs_fast": "ngram_jaccard_pairs",
    "minhash_dedup_pairs": "minhash_lsh_md5",
    # ANN indexes: probe-/rerank-everything degenerates to brute force
    # for ANY trained index, and THAT twin is hash-checked
    "ivf_kmeans_topk": "ivf_kmeans_probe_all",
    "pq_adc_topk": "pq_rerank_all",
    "nsw_topk": "nsw_probe_all",
    "ivfpq_topk": "ivfpq_probe_all",
    # approximate by design: recall vs the exact oracled baseline
    "ann_lsh_topk": "cosine_topk",
    # engine-specific sketches: exact twins of the same aggregates
    "approx_sketches": "stats_aggregates",
    # data-dependent fixpoint: pinned against a pure-Python peel
    "dup_graph_kcore": "tests/test_graph.py::test_k_core_matches_exact_python_peel",
}
