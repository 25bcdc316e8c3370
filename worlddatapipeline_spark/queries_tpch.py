"""TPC-H-shaped analytical queries completing the engine's relational surface.

The reference's catalog queries (`scene_registry.py:273-287,566-605`) are all
single-table scans and conditional aggregates; this module exercises the same
operator families the engine must support at 100 TB — multi-way joins with
broadcast dimensions, scalar-from-aggregate thresholds
(`navmesh_injector.py:463-486` pattern), per-group threshold join-backs,
anti-join idleness probes (`scene_copy.py:408-422` skip-if-exists pattern),
exact percentile alert thresholds (`structure.md:221-229`), and skew-safe
salted aggregation — each adapted to the driver's synthetic star schema and
hash-checked against a DuckDB oracle.

Scale notes per query are in the docstrings; the common rules:
- dimension tables (region/nation/supplier/part at test SF) join broadcast;
  fact-fact joins shuffle on the join key and AQE handles skew;
- every filter is a pure Column predicate that reaches the parquet scan
  (PushedFilters), every projection prunes to the read columns;
- double aggregates that cross a re-grouping boundary are summed as
  DECIMAL so reordering cannot flip the oracle hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import aggregates as agg_ops
from .operators import joins as join_ops
from .session import _t, route_by_rows


# ---------------------------------------------------------------------------
# Q6-shape: forecast revenue change — pure scan + filter + global agg
# ---------------------------------------------------------------------------

def q_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass filtered global aggregate (TPC-H Q6 shape).

    Operator class: conditional statistics (`scene_registry.py:566-605`).
    Scale: zero shuffles — map-side partial agg reduces to one row; all three
    predicates push down to the parquet scan.
    """
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(28,8)")).cast(
                    "double"
                ),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_DISCOUNT_REVENUE = """
SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,8))) AS DOUBLE), 2) AS revenue,
       count(*)                                    AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Q14-shape: promo revenue ratio — join + conditional ratio
# ---------------------------------------------------------------------------

def q_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-ratio aggregate over a part join (TPC-H Q14 shape).

    Operator class: terrain ratio classification (`navmesh_injector.py:324-340`)
    — ratio of a conditional sum to a total.  Scale: part is the smaller side
    → AQE/broadcast join; lineitem is filtered on shipdate *before* the join
    so the probe side shrinks first.
    """
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    joined = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-06-01").cast("timestamp"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
        .join(part.select("p_partkey", "p_type"), F.col("l_partkey") == F.col("p_partkey"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
            / F.sum(rev),
            4,
        ).alias("promo_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


SQL_PROMO_REVENUE_RATIO = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
       count(*)                                            AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate <  TIMESTAMP '1997-06-01'
"""


# ---------------------------------------------------------------------------
# Q7-shape: volume between nation pairs — multi-join + year grouping
# ---------------------------------------------------------------------------

def q_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-nation x customer-nation shipping volume (TPC-H Q7 shape).

    Operator class: multi-way status-annotation join
    (`scene_scanner.py:242-331` 3-way join family).  Scale (r11 reorder):
    the pair predicate implies supp_nation ∈ {N1, N2} AND cust_nation ∈
    {N1, N2}, so each fact side is pruned to the two nations' share
    (≈2/25) by its OWN broadcast hops BEFORE the orderkey exchange —
    supplier ⋈ n1 onto lineitem, customer ⋈ n2 onto orders — cutting both
    shuffle sides ~12x (guide §2.3: reduce the big side before shuffling
    it); previously all four dimension hops ran after the full fact-fact
    join.  The cross-pair disjunction still applies after the join, so
    the row set is identical.
    """
    lineitem, orders, customer, supplier, nation = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    l_side = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    )
    o_side = (
        orders.select("o_orderkey", "o_custkey")
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    )
    pairs = (
        l_side.join(o_side, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        pairs.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,8)")
                ).cast("double"),
                2,
            ).alias("volume"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_NATION_PAIR_VOLUME = """
SELECT supp_nation, cust_nation, l_year,
       round(CAST(sum(CAST(volume AS DECIMAL(28,8))) AS DOUBLE), 2) AS volume,
       count(*)                                                     AS n_lines
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


# ---------------------------------------------------------------------------
# Q9-shape: profit by nation/year with a LIKE part filter
# ---------------------------------------------------------------------------

def q_part_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit decomposition by supplier nation and year (TPC-H Q9 shape).

    Operator class: substring-pattern predicate (`scene_scanner.py:49-63`) +
    multi-join aggregate.  The cost side uses p_retailprice as the supply-cost
    proxy (the driver schema has no partsupp).  Scale: the LIKE filter prunes
    part before the join — filter the build side, then broadcast it.
    """
    lineitem, orders, supplier, part, nation = _t(
        spark, sf_dir, "lineitem", "orders", "supplier", "part", "nation"
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(28,8)")
    return (
        lineitem.select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount"
        )
        .join(
            F.broadcast(part.filter(F.col("p_name").contains("widget")).select("p_partkey", "p_retailprice")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(F.sum(profit).cast("double"), 2).alias("sum_profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_PART_PROFIT_BY_NATION = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 - 0.5 * p_retailprice * l_quantity AS DECIMAL(28,8))) AS DOUBLE), 2) AS sum_profit,
       count(*)                                          AS n_lines
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
"""


# ---------------------------------------------------------------------------
# Q10-shape: top returned-revenue customers
# ---------------------------------------------------------------------------

def q_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 customers by revenue lost to returns (TPC-H Q10 shape).

    Operator class: global top-k (`TakeOrderedAndProject`) over a join
    aggregate — the reference's argmax family (`navmesh_injector.py:371-378`)
    generalized to k rows.  Deterministic tiebreak on c_custkey so the hash
    is stable.  Scale: agg shrinks to |customers| rows before the top-k;
    top-k itself is a per-partition heap + driver merge, no full sort.
    """
    lineitem, orders, customer, nation = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "nation"
    )
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ).select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(customer.select("c_custkey", "c_name", "c_acctbal", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,8)")
                ).cast("double"),
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


SQL_RETURNED_TOP_CUSTOMERS = """
SELECT c_custkey, c_name, c_acctbal, n_name AS nation,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q11-shape: part value share above a global-aggregate threshold
# ---------------------------------------------------------------------------

def q_part_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose lineitem value exceeds a fraction of total value
    (TPC-H Q11 shape).

    Operator class: threshold-from-aggregate predicate — the reference
    computes a scene-volume threshold then filters actors against it
    (`navmesh_injector.py:463-486`).  Scale: the one-row global aggregate is
    crossJoin-broadcast against the per-part aggregate.  r11: the total is
    re-aggregated FROM per_part (Σ_parts Σ_rows = Σ_rows exactly — DECIMAL
    sums are associative) so both branches share the per-part subtree via
    ReuseExchange and lineitem is scanned ONCE; previously the total branch
    re-scanned the fact table and re-did the per-row multiply (guide §2.4).
    Sums are DECIMAL so the two aggregation orders agree bit-for-bit.
    """
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    value = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,8)")
    per_part = lineitem.groupBy("l_partkey").agg(F.sum(value).alias("part_value"))
    total = per_part.agg(F.sum("part_value").alias("total_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("total_value") * 0.0007)
        .select(
            "l_partkey",
            F.round(F.col("part_value").cast("double"), 2).alias("part_value"),
        )
    )


SQL_PART_VALUE_SHARE = """
SELECT l_partkey,
       round(CAST(part_value AS DOUBLE), 2) AS part_value
FROM (
  SELECT l_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS part_value
  FROM lineitem GROUP BY l_partkey
) p,
(
  SELECT sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS total_value
  FROM lineitem
) t
WHERE part_value > total_value * 0.0007
"""


# ---------------------------------------------------------------------------
# Q15-shape: top supplier(s) by quarterly revenue
# ---------------------------------------------------------------------------

def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers achieving the maximum quarterly revenue (TPC-H Q15 shape).

    Operator class: argmax with tie retention
    (`navmesh_connectivity.py:185-201` largest-island selection).  The max is
    computed as a one-row aggregate of the revenue view and equality-joined
    back — two passes over a tiny intermediate, no window over the full set.
    DECIMAL revenue so Spark and DuckDB agree on equality at the max.
    """
    lineitem, supplier = _t(spark, sf_dir, "lineitem", "supplier")
    revenue = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,8)")).alias(
                "total_revenue"
            )
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey"),
            F.col("s_name"),
            F.round(F.col("total_revenue").cast("double"), 2).alias("total_revenue"),
        )
    )


SQL_TOP_SUPPLIER_REVENUE = """
WITH revenue AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       round(CAST(total_revenue AS DOUBLE), 2) AS total_revenue
FROM revenue
JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


# ---------------------------------------------------------------------------
# Q17-shape: revenue from below-average-quantity lines
# ---------------------------------------------------------------------------

def q_below_avg_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average revenue of lines under half their part's mean quantity
    (TPC-H Q17 shape).

    Operator class: per-group scalar threshold joined back — the reference's
    per-scene mean-derived cutoffs (`navmesh_injector.py:623-681` dominant-
    bucket mean).  Scale: the per-part average is an aggregate of the same
    fact table, shuffled once on l_partkey and reused for the join (same key
    → no extra shuffle on the probe side).
    """
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    avg_qty = lineitem.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        lineitem.join(avg_qty, F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(28,8)")).cast("double") / 7.0, 2).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_BELOW_AVG_QTY_REVENUE = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) / 7.0, 2) AS avg_yearly,
       count(*)                                                                    AS n_lines
FROM lineitem l
JOIN (
  SELECT l_partkey AS a_partkey, avg(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
) a ON l.l_partkey = a.a_partkey
WHERE l.l_quantity < 0.5 * a.avg_qty
"""


# ---------------------------------------------------------------------------
# Q18-shape: large-volume orders
# ---------------------------------------------------------------------------

def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with orders above 300 total units (TPC-H Q18 shape).

    Operator class: HAVING-filtered group join-back — the reference's
    low-actor flag (aggregate count -> threshold -> skip,
    `worker_bake.py:40-46`) at order granularity.  Scale: the quantity
    aggregate runs first and keeps only qualifying orderkeys (46 at sf0.01),
    which then semi-drive the detail joins broadcast-style.
    """
    lineitem, orders, customer = _t(spark, sf_dir, "lineitem", "orders", "customer")
    big = (
        lineitem.groupBy(F.col("l_orderkey").alias("b_orderkey"))
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        orders.join(F.broadcast(big), F.col("o_orderkey") == F.col("b_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_name")), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


SQL_LARGE_ORDER_CUSTOMERS = """
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(o_totalprice, 2)            AS o_totalprice,
       total_qty
FROM orders
JOIN (
  SELECT l_orderkey AS b_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING round(sum(l_quantity), 2) > 300
) b ON o_orderkey = b_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# ---------------------------------------------------------------------------
# Q22-shape: idle high-balance customers (anti join)
# ---------------------------------------------------------------------------

def q_idle_high_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-balance customers with no recent orders (TPC-H Q22 shape).

    Operator class: skip-if-exists anti-join (`scene_copy.py:408-422`) +
    scalar-from-aggregate threshold (`navmesh_injector.py:463-486`).  Scale:
    the average-balance scalar broadcasts; the anti join shuffles on custkey
    — at 100 TB the orders side is pre-filtered by date so the anti join's
    build set is small.
    """
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


SQL_IDLE_HIGH_BALANCE_CUSTOMERS = """
SELECT c_mktsegment,
       count(*)                 AS n_customers,
       round(sum(c_acctbal), 2) AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Exact percentile alert thresholds (structure.md:221-229 family)
# ---------------------------------------------------------------------------

def q_event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95/p99 of event value per event type.

    Operator class: alert thresholds (`structure.md:221-229` — queue >1000,
    task >20 min, …): the operational generalization is "where is the p95?".
    Uses Spark's exact ``percentile`` (linear interpolation, matching
    DuckDB's ``quantile_cont``).

    Scale (r12, guide §2.2/§5): exact ``percentile`` is a holistic
    aggregate — each group's merged value→count map is sorted inside ONE
    final aggregate evaluation, a single-threaded O(n_g log n_g) that
    grows without bound at 100 TB.  A deterministic size router (same
    pattern as ``fuzzy_record_linkage``; the row count comes from the
    parquet FOOTER, no job) keeps the reference plan below
    ``SPARK_GRAFT_PCT_DIST_MIN`` rows (default 500k — covers the driver's
    bench SFs, so bench numbers stay comparable) and above it switches to
    ``exact_percentiles_distributed`` — distributed (type, value) counts,
    range-partitioned parallel cumsum, rank lookup with Spark's own
    interpolation formula.  Both branches are BIT-IDENTICAL (pinned by
    ``test_event_value_percentiles_router_branches_identical`` and the
    empirical 60/60 formula pin in the operator); measured sf1.0:
    3.28 s → 2.96 s, and the single-reducer eval is gone from the plan.
    """
    (events,) = _t(spark, sf_dir, "events")
    if not route_by_rows(sf_dir, "events", "SPARK_GRAFT_PCT_DIST_MIN", 500_000):
        return (
            events.groupBy("event_type")
            .agg(
                F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
                F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
                F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
                F.count(F.lit(1)).alias("n_events"),
            )
        )
    pct = agg_ops.exact_percentiles_distributed(
        events, "value", [0.5, 0.95, 0.99], ["event_type"]
    )
    wide = pct.groupBy("event_type").agg(
        F.round(F.max(F.when(F.col("p") == 0.5, F.col("pct"))), 4).alias("p50"),
        F.round(F.max(F.when(F.col("p") == 0.95, F.col("pct"))), 4).alias("p95"),
        F.round(F.max(F.when(F.col("p") == 0.99, F.col("pct"))), 4).alias("p99"),
    )
    # n_events counts ALL rows (percentile skips only NULL values); the
    # left join also keeps an all-NULL-value group's row, like percentile
    counts = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return counts.join(wide, "event_type", "left").select(
        "event_type", "p50", "p95", "p99", "n_events"
    )


SQL_EVENT_VALUE_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4)  AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       round(quantile_cont(value, 0.99), 4) AS p99,
       count(*)                             AS n_events
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Skew-safe salted aggregation (scale extension)
# ---------------------------------------------------------------------------

def q_salted_event_value_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted sum of event value per event type.

    Operator class: batch success counters (`batch_bake.py:285-359`) made
    skew-safe: event_type has ~5 distinct values over all rows — the
    pathological hot-key layout for a direct groupBy at 100 TB.  The salt
    spreads each key over 32 reducers; phase 2 merges 5x32 partials.
    DECIMAL sums make the result independent of summation order, so the
    plain-groupBy oracle hash-matches exactly.
    """
    (events,) = _t(spark, sf_dir, "events")
    salted = agg_ops.salted_sum(
        events.select("event_type", F.col("value").cast("decimal(28,10)").alias("value")),
        ["event_type"],
        "value",
        "total_value",
        n_salts=32,
    )
    return salted.select(
        "event_type", F.round(F.col("total_value").cast("double"), 4).alias("total_value")
    )


SQL_SALTED_EVENT_VALUE_SUM = """
SELECT event_type,
       round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 4) AS total_value
FROM events
GROUP BY event_type
"""


def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact⋈dim join (operators/joins.py::salted_join): event_type is
    the pathological hot key (~5 distinct values over the whole fact table);
    the dim side replicates n_salts-fold so each hot key spreads over 16
    reducers instead of melting one.  Result must be ROW-IDENTICAL to the
    plain join — the oracle is the unsalted SQL."""
    (events,) = _t(spark, sf_dir, "events")
    dim = events.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("type_avg")
    )
    joined = join_ops.salted_join(
        events.select("event_type", F.col("value").cast("decimal(28,10)").alias("value")),
        dim,
        "event_type",
        n_salts=16,
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.min("type_avg"), 6).alias("type_avg"),
        F.sum(
            F.when(F.col("value") > F.col("type_avg"), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_above_avg"),
    )


SQL_SALTED_SKEW_JOIN = """
WITH dim AS (
  SELECT event_type, round(avg(value), 6) AS type_avg
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       count(*) AS n_events,
       round(min(d.type_avg), 6) AS type_avg,
       CAST(sum(CASE WHEN CAST(e.value AS DECIMAL(28,10)) > d.type_avg
                THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type
"""


def q_hourly_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation — the batch form of the
    streaming monitor's progress counts (`monitor.py:88-95,140-149`;
    streaming/monitor.py::frame_progress uses the same F.window expression
    with a watermark).  groupBy(window) is an ordinary hash aggregate: one
    shuffle on (window, type), map-side partial agg; at 100 TB the input
    should be date-partitioned so each task aggregates its own hours.
    DECIMAL value sums keep the oracle hash stable."""
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window(F.col("ts"), "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,10)")).cast("double"), 4
            ).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


SQL_HOURLY_EVENT_WINDOWS = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H') AS hour_start,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 4) AS total_value
FROM events
GROUP BY 1, 2
"""


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market share of one supplier nation within a region, per year
    (TPC-H Q8 shape): conditional revenue ratio inside a 6-table star join.

    Operator class: ratio classification (`navmesh_injector.py:324-340`)
    over the full join family.  Scale (r11 reorder): the region-filtered
    customer broadcast prunes ORDERS before the fact-fact shuffle — inner
    equi-joins commute, so attaching customer ⋈ region to orders first
    (both map-side broadcasts) cuts the orders side of the orderkey
    exchange to the region's ≈1/5 share and shrinks the SMJ output feeding
    the supplier broadcasts; previously the pruning joins ran AFTER the
    full-size lineitem ⋈ orders join (guide §2.3: reduce the big side
    before shuffling it).  The share is a CASE-ratio inside one
    aggregate — no second pass.  DECIMAL sums for engine-identical ratios.
    """
    lineitem, orders, customer, supplier, nation, region = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region"
    )
    cust_nations = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("c_nk"))
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,8)")
    orders_pruned = (
        orders.select("o_orderkey", "o_custkey", "o_orderdate")
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nations), F.col("c_nationkey") == F.col("c_nk"))
    )
    joined = (
        lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(orders_pruned, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("s_nk"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                (
                    F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0).cast("decimal(28,8)")))
                    / F.sum(rev)
                ).cast("double"),
                6,
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_NATION_MARKET_SHARE = """
SELECT year(o_orderdate) AS o_year,
       round(CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
                           THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))
                           ELSE CAST(0 AS DECIMAL(28,8)) END)
                  / sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8)))
                  AS DOUBLE), 6) AS mkt_share,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'AMERICA'
GROUP BY year(o_orderdate)
"""


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of orders-per-customer, including zero-order customers
    (TPC-H Q13 shape): left outer join + two-level aggregation.

    Operator class: batch counters generalized to a histogram
    (`batch_bake.py:285-359`).  Scale: first aggregate shrinks to
    |customers| rows (shuffle on custkey), second to |distinct counts| —
    the classic two-level fold where each level is strictly smaller.
    """
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    per_cust = (
        customer.select("c_custkey")
        .join(
            orders.select("o_custkey", "o_orderkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


SQL_ORDER_COUNT_DISTRIBUTION = """
SELECT c_count, count(*) AS n_customers
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) c
GROUP BY c_count
"""


# ---------------------------------------------------------------------------
# Q4-shape: priority counts of late-shipped orders (EXISTS semi-join)
# ---------------------------------------------------------------------------

def q_late_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders per priority having at least one line shipped >60 days after
    the order date (TPC-H Q4 shape; the schema has no commit/receipt dates so
    lateness is shipdate vs orderdate).

    Operator class: LIMIT-1 existence probe (`bos_manager.py:91-96`) as a
    relational semi-join — EXISTS stops at the first matching line.  Scale:
    left-semi hash join on orderkey with the non-equi lateness predicate
    evaluated post-probe; the orders side is date-pruned before the shuffle,
    and the semi join never materializes lineitem columns.
    """
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    scoped = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    late_exists = scoped.join(
        lineitem.select("l_orderkey", "l_shipdate"),
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late_exists.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


SQL_LATE_ORDER_PRIORITY_COUNTS = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q5-shape: local-supplier revenue per nation (cyclic join)
# ---------------------------------------------------------------------------

def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation from orders where customer and supplier share the
    nation, within one region and year (TPC-H Q5 shape).

    Operator class: the reference's status-annotation join family
    (`scene_scanner.py:242-331`) with the distinctive *cyclic* equality —
    customer.nation == supplier.nation — closing the join graph.  Scale
    (r11 reorder): the cycle + region predicates imply BOTH endpoints sit
    in an ASIA nation, so each fact side is pruned to the region's ≈1/5
    share by its own broadcast hops BEFORE the orderkey exchange —
    supplier ⋈ asia_nations onto lineitem, customer ⋈ asia_nations onto
    orders — and the cycle equality applies as a post-join filter; row
    set identical, both shuffle sides ~5x smaller (guide §2.3).
    """
    lineitem, orders, customer, supplier, nation, region = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region"
    )
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,8)")
    l_side = (
        lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    o_side = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(asia_nations.select(F.col("n_nationkey").alias("cn_key"))),
            F.col("c_nationkey") == F.col("cn_key"),
        )
    )
    return (
        l_side.join(o_side, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name AS nation,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DOUBLE), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Q12-shape: priority mix of late-shipped lines per line status
# ---------------------------------------------------------------------------

def q_late_shipment_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High- vs low-priority order counts among late-shipped lines, grouped
    by line status (TPC-H Q12 shape; l_linestatus stands in for shipmode,
    lateness is shipdate vs orderdate).

    Operator class: conditional statistics (`scene_registry.py:566-605`) on
    top of a fact-fact join.  Scale: both CASE branches fold into one
    aggregate pass; the join shuffles on orderkey with both sides
    date-pruned at the scan.
    """
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_linestatus", "l_shipdate")
        .join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


SQL_LATE_SHIPMENT_PRIORITY_MIX = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_linestatus
"""


# ---------------------------------------------------------------------------
# Q19-shape: disjunctive brand/size/quantity revenue
# ---------------------------------------------------------------------------

def q_brand_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from three OR-ed brand/size/quantity bands (TPC-H Q19 shape).

    Operator class: fnmatch glob exclusion (`scene_copy.py:68-92`) — a
    disjunction of conjunctive predicates.  Scale: the brand/size half of
    each disjunct filters part *before* the broadcast join (the build side
    shrinks to the union of the three brand bands); the quantity half prunes
    lineitem at the scan as an OR-of-ranges; only the cross conditions run
    post-join.  All bounds are exact integers — no float-folding divergence.
    """
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    part_side = part.filter(
        (
            (F.col("p_brand") == "Brand#12") & (F.col("p_size").between(1, 15))
        )
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size").between(1, 20)))
        | ((F.col("p_brand") == "Brand#21") & (F.col("p_size").between(1, 25)))
    ).select("p_partkey", "p_brand")
    joined = (
        lineitem.filter(
            (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
        )
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(F.broadcast(part_side), F.col("l_partkey") == F.col("p_partkey"))
        .filter(
            ((F.col("p_brand") == "Brand#12") & (F.col("l_quantity") <= 11))
            | (
                (F.col("p_brand") == "Brand#23")
                & (F.col("l_quantity") >= 10)
                & (F.col("l_quantity") <= 20)
            )
            | (
                (F.col("p_brand") == "Brand#21")
                & (F.col("l_quantity") >= 20)
                & (F.col("l_quantity") <= 30)
            )
        )
    )
    return joined.agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,8)")
            ).cast("double"),
            2,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


SQL_BRAND_BAND_REVENUE = """
SELECT round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DOUBLE), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1  AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 30)
"""


# ---------------------------------------------------------------------------
# Q20-shape: suppliers with excess stock of a part family (nested semi-join)
# ---------------------------------------------------------------------------

def q_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers in one region who shipped >45 units of any red part in 1997
    (TPC-H Q20 shape — nested IN subqueries become a chain of semi-joins).

    Operator class: skip-if-exists inventory probe (`scene_copy.py:408-422`)
    inverted — keep rows whose aggregate evidence exists.  Scale: innermost
    filter (red parts) broadcasts into the fact scan; the per-(supplier,
    part) aggregate shrinks to qualifying pairs before the distinct; the
    final hop is a left-semi join against a 100-row supplier table.
    """
    lineitem, part, supplier, nation, region = _t(
        spark, sf_dir, "lineitem", "part", "supplier", "nation", "region"
    )
    red_parts = part.filter(F.col("p_name").startswith("red")).select("p_partkey")
    qualified = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 45)
        .select("l_suppkey")
        .distinct()
    )
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    return (
        supplier.join(qualified, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )


SQL_EXCESS_STOCK_SUPPLIERS = """
SELECT s_suppkey, s_name, n_name AS nation
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'red%'
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > 45
  )
"""


# ---------------------------------------------------------------------------
# Q21-shape: sole late supplier in multi-supplier orders
# ---------------------------------------------------------------------------

def q_sole_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top suppliers counted over orders where they were the ONLY late
    shipper among 2+ suppliers (TPC-H Q21 shape).

    Operator class: the reference's masked-failure attribution
    (`run_bake_navmesh.py:83-91` — which worker caused the failing batch) as
    EXISTS + NOT-EXISTS semantics.  Rather than two correlated probes over
    the fact table, both quantifiers fold into one per-(order, supplier)
    aggregate and a second per-order HASH aggregate whose `max_by` recovers
    the sole late supplier (unique when n_late == 1) — no window, so no
    in-partition sort anywhere (the classic Q21 rewrite; correlated EXISTS
    would scan lineitem three times).  Deterministic (n_orders, s_suppkey)
    top-20.
    """
    lineitem, orders, supplier = _t(spark, sf_dir, "lineitem", "orders", "supplier")
    per_supp = (
        lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
                ).otherwise(0)
            ).alias("supp_late")
        )
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("supp_late").alias("n_late"),
        F.max_by("l_suppkey", "supp_late").alias("late_supp"),
    )
    return (
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .groupBy("late_supp")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")), F.col("late_supp") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "n_orders")
        .orderBy(F.desc("n_orders"), F.asc("s_suppkey"))
        .limit(20)
    )


SQL_SOLE_LATE_SUPPLIERS = """
WITH per_supp AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS supp_late
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey, l_suppkey
), annotated AS (
  SELECT l_suppkey, supp_late,
         count(*)       OVER (PARTITION BY l_orderkey) AS n_supp,
         sum(supp_late) OVER (PARTITION BY l_orderkey) AS n_late
  FROM per_supp
)
SELECT s_suppkey, s_name, count(*) AS n_orders
FROM annotated
JOIN supplier ON l_suppkey = s_suppkey
WHERE supp_late = 1 AND n_supp > 1 AND n_late = 1
GROUP BY s_suppkey, s_name
ORDER BY n_orders DESC, s_suppkey ASC
LIMIT 20
"""


TPCH_QUERIES = {
    "salted_skew_join": q_salted_skew_join,
    "discount_revenue": q_discount_revenue,
    "promo_revenue_ratio": q_promo_revenue_ratio,
    "nation_pair_volume": q_nation_pair_volume,
    "part_profit_by_nation": q_part_profit_by_nation,
    "returned_top_customers": q_returned_top_customers,
    "part_value_share": q_part_value_share,
    "top_supplier_revenue": q_top_supplier_revenue,
    "below_avg_qty_revenue": q_below_avg_qty_revenue,
    "large_order_customers": q_large_order_customers,
    "idle_high_balance_customers": q_idle_high_balance_customers,
    "event_value_percentiles": q_event_value_percentiles,
    "salted_event_value_sum": q_salted_event_value_sum,
    "hourly_event_windows": q_hourly_event_windows,
    "nation_market_share": q_nation_market_share,
    "order_count_distribution": q_order_count_distribution,
    "late_order_priority_counts": q_late_order_priority_counts,
    "local_supplier_volume": q_local_supplier_volume,
    "late_shipment_priority_mix": q_late_shipment_priority_mix,
    "brand_band_revenue": q_brand_band_revenue,
    "excess_stock_suppliers": q_excess_stock_suppliers,
    "sole_late_suppliers": q_sole_late_suppliers,
}

TPCH_ORACLES = {
    "salted_skew_join": SQL_SALTED_SKEW_JOIN,
    "discount_revenue": SQL_DISCOUNT_REVENUE,
    "promo_revenue_ratio": SQL_PROMO_REVENUE_RATIO,
    "nation_pair_volume": SQL_NATION_PAIR_VOLUME,
    "part_profit_by_nation": SQL_PART_PROFIT_BY_NATION,
    "returned_top_customers": SQL_RETURNED_TOP_CUSTOMERS,
    "part_value_share": SQL_PART_VALUE_SHARE,
    "top_supplier_revenue": SQL_TOP_SUPPLIER_REVENUE,
    "below_avg_qty_revenue": SQL_BELOW_AVG_QTY_REVENUE,
    "large_order_customers": SQL_LARGE_ORDER_CUSTOMERS,
    "idle_high_balance_customers": SQL_IDLE_HIGH_BALANCE_CUSTOMERS,
    "event_value_percentiles": SQL_EVENT_VALUE_PERCENTILES,
    "salted_event_value_sum": SQL_SALTED_EVENT_VALUE_SUM,
    "hourly_event_windows": SQL_HOURLY_EVENT_WINDOWS,
    "nation_market_share": SQL_NATION_MARKET_SHARE,
    "order_count_distribution": SQL_ORDER_COUNT_DISTRIBUTION,
    "late_order_priority_counts": SQL_LATE_ORDER_PRIORITY_COUNTS,
    "local_supplier_volume": SQL_LOCAL_SUPPLIER_VOLUME,
    "late_shipment_priority_mix": SQL_LATE_SHIPMENT_PRIORITY_MIX,
    "brand_band_revenue": SQL_BRAND_BAND_REVENUE,
    "excess_stock_suppliers": SQL_EXCESS_STOCK_SUPPLIERS,
    "sole_late_suppliers": SQL_SOLE_LATE_SUPPLIERS,
}
