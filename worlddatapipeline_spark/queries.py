"""Query registry: the engine's operator inventory exercised on the driver's
synthetic tables, each with a DuckDB oracle SQL equivalent.

Every entry maps an operator class from SURVEY.md §2 onto the driver tables
(region nation customer supplier part orders lineitem events documents
embeddings) so the driver's correctness harness can hash-compare Spark vs
DuckDB at sf=0.01.  Column names/aliases are kept identical on both sides;
double-valued aggregates are rounded identically on both sides so IEEE
summation-order differences cannot flip the hash.

Entries whose semantics are not ANSI-SQL-expressible (LSH approximations,
stateful rate limiting, iterative connected components) have no oracle and
get the driver's rows-only check — marked ``# rows-only`` below.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import aggregates as agg_ops
from .operators import dedup as dedup_ops
from .operators import graph as graph_ops
from .operators import joins as join_ops
from .operators import similarity as sim_ops
from .operators import stateful as stateful_ops
from .operators import text as text_ops
from .operators import windows as win_ops
from .session import _t, literal_frame


# ---------------------------------------------------------------------------
# §2.4 aggregations — catalog statistics / conditional counts
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: groupBy + 8 aggregates in one pass.

    Operator class: catalog statistics (`scene_registry.py:566-605`) —
    conditional/multi-aggregate scan.  One shuffle on a 6-value key; partial
    aggregation map-side.
    """
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                          AS sum_qty,
       round(sum(l_extendedprice), 2)                                     AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                  AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)    AS sum_charge,
       round(avg(l_quantity), 2)                                          AS avg_qty,
       round(avg(l_extendedprice), 2)                                     AS avg_price,
       round(avg(l_discount), 2)                                          AS avg_disc,
       count(*)                                                           AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_catalog_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row conditional statistics — the reference's `get_statistics`
    (`scene_registry.py:566-605`): COUNT(*), COUNT(CASE WHEN …), SUM, AVG,
    COUNT(DISTINCT) in a single scan."""
    (orders,) = _t(spark, sf_dir, "orders")
    return agg_ops.conditional_stats(
        orders,
        {
            "n_orders": F.count(F.lit(1)),
            "n_open": agg_ops.count_when(F.col("o_orderstatus") == "O"),
            "n_finished": agg_ops.count_when(F.col("o_orderstatus") == "F"),
            "n_partial": agg_ops.count_when(F.col("o_orderstatus") == "P"),
            "n_customers": F.countDistinct("o_custkey"),
            # DECIMAL sum: double accumulation-order drift crosses the
            # round(2) boundary at sf>=0.5 row counts (caught by the sf0.5
            # stress sweep); decimal is associative so both engines agree.
            "total_value": F.round(
                F.sum(F.col("o_totalprice").cast("decimal(28,10)")).cast(
                    "double"
                ),
                2,
            ),
            "avg_value": F.round(
                (
                    F.sum(F.col("o_totalprice").cast("decimal(28,10)"))
                    / F.count(F.lit(1))
                ).cast("double"),
                2,
            ),
            "first_order_date": F.date_format(F.min("o_orderdate"), "yyyy-MM-dd"),
            "last_order_date": F.date_format(F.max("o_orderdate"), "yyyy-MM-dd"),
        },
    )


SQL_CATALOG_STATS = """
SELECT count(*)                                              AS n_orders,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END)       AS n_open,
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END)       AS n_finished,
       count(CASE WHEN o_orderstatus = 'P' THEN 1 END)       AS n_partial,
       count(DISTINCT o_custkey)                             AS n_customers,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE), 2)
                                                             AS total_value,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,10))) / count(*)
             AS DOUBLE), 2)                                  AS avg_value,
       strftime(min(o_orderdate), '%Y-%m-%d')                AS first_order_date,
       strftime(max(o_orderdate), '%Y-%m-%d')                AS last_order_date
FROM orders
"""


def q_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer→nation→region star join (broadcast dims) + per-region stats.

    Operator class: status-annotation joins (`scene_scanner.py:242-331`).
    Both dims are broadcast — zero shuffle of the fact side before the
    aggregate."""
    customer, nation, region = _t(spark, sf_dir, "customer", "nation", "region")
    j = join_ops.broadcast_lookup(
        customer, nation, F.col("c_nationkey") == F.col("n_nationkey"), "inner"
    )
    j = join_ops.broadcast_lookup(
        j, region, F.col("n_regionkey") == F.col("r_regionkey"), "inner"
    )
    return j.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        F.countDistinct("n_name").alias("n_nations"),
    )


SQL_REGION_ROLLUP = """
SELECT r_name,
       count(*)                    AS n_customers,
       round(sum(c_acctbal), 2)    AS total_acctbal,
       count(DISTINCT n_name)      AS n_nations
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_nation_rollup_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over (region, nation) — the grouping-sets surface
    SURVEY.md §2.4 notes the reference lacks but our engine exposes."""
    customer, nation, region = _t(spark, sf_dir, "customer", "nation", "region")
    j = (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return j.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
    )


SQL_NATION_ROLLUP_SETS = """
SELECT r_name, n_name,
       count(*)                 AS n_customers,
       round(sum(c_acctbal), 2) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_histogram_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densest 1-D histogram bucket per group — the reference's dominant
    ground-plane Z detection (`navmesh_injector.py:623-681`) restated over
    orders: per status, the busiest 10k-wide totalprice bucket."""
    (orders,) = _t(spark, sf_dir, "orders")
    out = agg_ops.histogram_mode(orders, ["o_orderstatus"], "o_totalprice", 10000.0)
    return out.select(
        "o_orderstatus",
        "bucket",
        "bucket_count",
        F.round("mode_mean", 4).alias("mode_mean"),
    )


SQL_HISTOGRAM_MODE = """
WITH b AS (
  SELECT o_orderstatus, floor(o_totalprice / 10000.0) AS bucket,
         count(*) AS n, avg(o_totalprice) AS mean_value
  FROM orders GROUP BY 1, 2
), r AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                               ORDER BY n DESC, bucket DESC) AS rn
  FROM b
)
SELECT o_orderstatus, CAST(bucket AS BIGINT) AS bucket, n AS bucket_count,
       round(mean_value, 4) AS mode_mean
FROM r WHERE rn = 1
"""


def q_grid_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densest 2-D grid cell per group — density-grid scene-center detection
    (`navmesh_injector.py:342-390`) over an (x=value, y=20·user_id) plane."""
    (events,) = _t(spark, sf_dir, "events")
    pts = events.select(
        "event_type",
        F.col("value").alias("gx"),
        (F.col("user_id") * 20.0).alias("gy"),
    )
    out = agg_ops.grid_mode(pts, ["event_type"], "gx", "gy", 50.0)
    return out.select(
        "event_type",
        F.round("center_x", 4).alias("center_x"),
        F.round("center_y", 4).alias("center_y"),
        "cell_count",
    )


SQL_GRID_MODE = """
WITH pts AS (
  SELECT event_type, value AS gx, user_id * 20.0 AS gy FROM events
), cells AS (
  SELECT event_type, floor(gx/50.0) AS cx, floor(gy/50.0) AS cy, count(*) AS n
  FROM pts GROUP BY 1, 2, 3
), r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY n DESC, cx DESC, cy DESC) AS rn
  FROM cells
)
SELECT event_type,
       round((cx + 0.5) * 50.0, 4) AS center_x,
       round((cy + 0.5) * 50.0, 4) AS center_y,
       n AS cell_count
FROM r WHERE rn = 1
"""


def q_lineitem_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max bounds aggregation per group — the AABB / landscape-Z min-max
    family (`navmesh_injector.py:421-457,514-566`)."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(F.min(F.col("l_extendedprice") - F.col("l_tax") * 100.0), 4).alias("min_lo"),
        F.round(F.max(F.col("l_extendedprice") + F.col("l_tax") * 100.0), 4).alias("max_hi"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("first_ship"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("last_ship"),
    )


SQL_LINEITEM_EXTREMES = """
SELECT l_returnflag,
       min(l_quantity)                                    AS min_qty,
       max(l_quantity)                                    AS max_qty,
       round(min(l_extendedprice - l_tax * 100.0), 4)     AS min_lo,
       round(max(l_extendedprice + l_tax * 100.0), 4)     AS max_hi,
       strftime(min(l_shipdate), '%Y-%m-%d')              AS first_ship,
       strftime(max(l_shipdate), '%Y-%m-%d')              AS last_ship
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# §2.2 filters / predicates, §2.6 sorts / top-k
# ---------------------------------------------------------------------------

def q_segment_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag-predicate filtered listing (`scene_registry.py:273-287`):
    filter + projection; pushdown-friendly (predicate and projection both
    reach the parquet scan)."""
    (customer,) = _t(spark, sf_dir, "customer")
    return customer.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 1000.0)
    ).select("c_custkey", "c_name", "c_nationkey", "c_acctbal")


SQL_SEGMENT_LISTING = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal
FROM customer
WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
"""


def q_prefix_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix predicate + aggregation — sequence-name prefix filtering
    (`run_render_job_headless.py:636-650`)."""
    (part,) = _t(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").startswith("small"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
    )


SQL_PREFIX_PARTS = """
SELECT p_brand, count(*) AS n_parts, round(avg(p_retailprice), 4) AS avg_price
FROM part
WHERE p_name LIKE 'small%'
GROUP BY p_brand
"""


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranking window — the KNN truncation pattern
    (`navmesh_connectivity.py:132-135`): top 3 orders by value per customer."""
    (orders,) = _t(spark, sf_dir, "orders")
    return join_ops.top_k_per_group(
        orders,
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
        rank_col="rank",
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rank")


SQL_TOP_ORDERS_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q_first_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence dedup via ranking window (`scene_copy.py:236-310`):
    cheapest part (ties → lowest key) per brand."""
    (part,) = _t(spark, sf_dir, "part")
    return join_ops.top_k_per_group(
        part, ["p_brand"], [F.col("p_retailprice").asc(), F.col("p_partkey").asc()], 1
    ).select("p_brand", "p_partkey", "p_name", "p_retailprice")


SQL_FIRST_PART_PER_BRAND = """
SELECT p_brand, p_partkey, p_name, p_retailprice FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice ASC, p_partkey ASC) AS rn
  FROM part
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# §2.3 joins — as-of, range/interval, anti, reconcile
# ---------------------------------------------------------------------------

def q_asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join — nearest-keyframe channel sampling
    (`camera_exporter.py:221-232`): for each purchase event, the user's most
    recent click at-or-before it.  Implemented as the union+last-over-window
    single-shuffle formulation (operators/joins.py::asof_join)."""
    (events,) = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    out = join_ops.asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="click_ts",
        value_cols=["click_id"],
        direction="backward",
    )
    return out.select("purchase_id", "user_id", "click_id")


SQL_ASOF_CLICK_BEFORE_PURCHASE = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts AS click_ts, event_id AS click_id
  FROM events WHERE event_type = 'click'
)
SELECT p.purchase_id, p.user_id, c.click_id
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.click_ts <= p.purchase_ts
"""


def q_value_band_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join — frame→behavior-segment mapping
    (`worker_create.py:720-730`): classify events into value bands via
    interval containment (bucketed-equi-join path of
    operators/joins.py::range_join)."""
    (events,) = _t(spark, sf_dir, "events")
    bands = literal_frame(
        spark,
        [("low", 0, 49), ("mid", 50, 149), ("high", 150, 10**9)],
        "band string, lo bigint, hi bigint",
    )
    pts = events.select(
        "event_id", F.floor("value").cast("long").alias("v"), "value"
    )
    # 3-row interval dim → plain broadcast theta join (Catalyst BNLJ on the
    # broadcast side).  The bucketed equi-join path (bucket_size=...) is for
    # large interval tables with bounded spans; an open-ended [150, 1e9] band
    # would explode to 2e7 bucket rows.
    joined = join_ops.range_join(
        pts, bands, point_col="v", start_col="lo", end_col="hi"
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


SQL_VALUE_BAND_RANGE_JOIN = """
WITH bands(band, lo, hi) AS (
  VALUES ('low', 0, 49), ('mid', 50, 149), ('high', 150, 1000000000)
), pts AS (
  SELECT event_id, CAST(floor(value) AS BIGINT) AS v, value FROM events
)
SELECT band, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM pts JOIN bands ON pts.v >= bands.lo AND pts.v <= bands.hi
GROUP BY band
"""


def q_customer_order_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory reconcile — catalog ⋈ listing full-outer with status
    transitions (`scene_registry.py:466-545`): customers vs the set of
    customers appearing in orders."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    j = customer.join(per_cust, "c_custkey", "full_outer")
    status = (
        F.when(F.col("c_name").isNotNull() & F.col("n_orders").isNotNull(), "active")
        .when(F.col("c_name").isNotNull(), "inactive")
        .otherwise("untracked")
    )
    return (
        j.select(status.alias("sync_status"), F.coalesce("n_orders", F.lit(0)).alias("n_orders"))
        .groupBy("sync_status")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("n_orders").alias("total_orders"),
        )
    )


SQL_CUSTOMER_ORDER_RECONCILE = """
WITH per_cust AS (
  SELECT o_custkey AS c_custkey, count(*) AS n_orders FROM orders GROUP BY 1
), j AS (
  SELECT c.c_name, p.n_orders
  FROM customer c FULL OUTER JOIN per_cust p USING (c_custkey)
)
SELECT CASE WHEN c_name IS NOT NULL AND n_orders IS NOT NULL THEN 'active'
            WHEN c_name IS NOT NULL THEN 'inactive'
            ELSE 'untracked' END    AS sync_status,
       count(*)                     AS n_customers,
       CAST(sum(coalesce(n_orders, 0)) AS BIGINT) AS total_orders
FROM j GROUP BY 1
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join diff — skip-if-exists / missing-inventory detection
    (`scene_copy.py:408-422`, `bos_manager.py:249-259`)."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    target = orders.select(F.col("o_custkey").alias("c_custkey"))
    return join_ops.anti_diff(customer, target, ["c_custkey"]).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


SQL_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


# ---------------------------------------------------------------------------
# §2.5 window / time-series operators
# ---------------------------------------------------------------------------

def q_user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-window gap statistics — per-sequence consecutive-sample deltas
    (path length family, `worker_create.py:604-607`): per user, count and
    mean gap (µs) between consecutive events."""
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.select(
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("gap_us"), 2).alias("avg_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


SQL_USER_EVENT_GAPS = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT user_id, count(*) AS n_events,
       round(avg(gap_us), 2) AS avg_gap_us,
       max(gap_us) AS max_gap_us
FROM g GROUP BY user_id
"""


def q_cumulative_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (prefix) sum per key — cumulative arc length
    (`worker_create.py:604-607` / windows.py::cumulative_distance)."""
    (events,) = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # DECIMAL accumulator: DuckDB evaluates windowed sums over a segment
    # tree (pairwise order), Spark sequentially — double drift crosses the
    # round(2) boundary at sf>=0.5 prefix lengths (sf0.5 stress sweep).
    # Round IN decimal (exact .xx5 boundaries, HALF_UP both engines for
    # positive values), THEN cast: rounding after a double cast diverges
    # (Spark rounds the shortest string repr, DuckDB the binary value).
    return events.select(
        "event_id",
        "user_id",
        F.round(F.sum(F.col("value").cast("decimal(28,10)")).over(w), 2)
        .cast("double")
        .alias("running_value"),
    )


SQL_CUMULATIVE_USER_VALUE = """
SELECT event_id, user_id,
       CAST(round(sum(CAST(value AS DECIMAL(28,10)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE)
         AS running_value
FROM events
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization — the batch analog of the streaming session
    window (SURVEY.md §2.10): new session when gap > 30 min; per user count
    sessions and events."""
    (events,) = _t(spark, sf_dir, "events")
    sess = win_ops.with_session_ids(events).select("user_id", "session_id")
    return sess.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS gap
  FROM events
), s AS (
  SELECT user_id,
         sum(CASE WHEN gap IS NULL OR gap > 1800 * 1000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM s GROUP BY user_id
"""


def q_stalled_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stalled-progress detection (batch form) — no-new-frames stall cutoff
    (`run_render_job_headless.py:255-325`, `monitor.py:166-174`): users whose
    last event is more than 72 h older than the stream's max event time."""
    (events,) = _t(spark, sf_dir, "events")
    last = events.groupBy("user_id").agg(F.max(F.unix_micros("ts")).alias("last_us"))
    global_max = events.agg(F.max(F.unix_micros("ts")).alias("max_us"))
    j = last.crossJoin(F.broadcast(global_max))
    return j.select(
        "user_id",
        F.round((F.col("max_us") - F.col("last_us")) / 3.6e9, 4).alias("idle_hours"),
        ((F.col("max_us") - F.col("last_us")) > 72 * 3600 * 1000000).alias("stalled"),
    )


SQL_STALLED_USERS = """
WITH last AS (
  SELECT user_id, max(epoch_us(ts)) AS last_us FROM events GROUP BY user_id
), g AS (SELECT max(epoch_us(ts)) AS max_us FROM events)
SELECT user_id,
       round((max_us - last_us) / 3.6e9, 4) AS idle_hours,
       (max_us - last_us) > 259200000000::BIGINT AS stalled
FROM last, g
"""


def q_unwrap_angle_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form angle unwrap — `transform_track.py:133-155` restated as a
    cumulative window sum of shortest deltas (windows.py::unwrap_angle).
    Angle series synthesized deterministically from events."""
    (events,) = _t(spark, sf_dir, "events")
    series = events.select(
        "user_id",
        "event_id",
        "ts",
        ((F.col("event_id") * 37) % 360 - 180).cast("double").alias("angle"),
    )
    out = win_ops.unwrap_angle(series, "user_id", "ts", "angle", "unwrapped")
    return out.select(
        "user_id", "event_id", "angle", F.round("unwrapped", 6).alias("unwrapped")
    )


SQL_UNWRAP_ANGLE_SERIES = """
WITH series AS (
  SELECT user_id, event_id, ts,
         CAST((event_id * 37) % 360 - 180 AS DOUBLE) AS angle
  FROM events
), d AS (
  SELECT user_id, event_id, ts, angle,
         angle - lag(angle) OVER (PARTITION BY user_id ORDER BY ts) AS delta
  FROM series
)
SELECT user_id, event_id, angle,
       round(first_value(angle) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING)
             + coalesce(sum(delta - 360.0 * floor(delta / 360.0 + 0.5))
                        OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING), 0.0), 6) AS unwrapped
FROM d
"""


# ---------------------------------------------------------------------------
# §2.7 scalar functions — JSON, hashing
# ---------------------------------------------------------------------------

def q_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-in-TEXT promotion — the reference smuggles nested data as JSON
    strings (`scene_registry.py:237,249-251`); extract and aggregate."""
    (events,) = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_JSON_PROPS_EXTRACT = """
SELECT event_type, count(*) AS n,
       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# LLM-pipeline surface: text analysis, dedup, similarity
# ---------------------------------------------------------------------------

def q_doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality metrics per document (token count, punctuation/uppercase
    ratios) — pure-expression text profiling (operators/text.py)."""
    (documents,) = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return documents.select(
        "doc_id",
        F.length(t).alias("n_chars_measured"),
        text_ops.token_count(t).alias("n_tokens"),
        F.round(text_ops.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(text_ops.uppercase_ratio(t), 6).alias("upper_ratio"),
        F.round(text_ops.mean_word_length(t), 6).alias("mean_word_len"),
    )


SQL_DOC_TEXT_STATS = """
SELECT doc_id,
       length(text) AS n_chars_measured,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
       round(CASE WHEN length(text) = 0 THEN 0.0
             ELSE length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g'))
                  / length(text) END, 6) AS punct_ratio,
       round(CASE WHEN length(text) = 0 THEN 0.0
             ELSE length(regexp_replace(text, '[^A-Z]', '', 'g'))
                  / length(text) END, 6) AS upper_ratio,
       round(CASE WHEN length(trim(text)) = 0 THEN 0.0
             ELSE length(regexp_replace(trim(text), '\\s+', '', 'g'))
                  / len(string_split_regex(trim(text), '\\s+')) END, 6) AS mean_word_len
FROM documents
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score per doc (operators/text.py::quality_score) —
    deterministic arithmetic reproduced exactly in the oracle."""
    (documents,) = _t(spark, sf_dir, "documents")
    return documents.select(
        "doc_id", text_ops.quality_score(F.col("text")).alias("quality")
    )


SQL_DOC_QUALITY = """
WITH m AS (
  SELECT doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE) AS nt,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g'))
                   / length(text) END AS pr,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE length(regexp_replace(text, '[^A-Z]', '', 'g'))
                   / length(text) END AS ur
  FROM documents
)
SELECT doc_id,
       round(least(nt / 20.0, 1.0)
             * (1.0 - 0.5 * least(pr * 4.0, 1.0))
             * (1.0 - 0.5 * least(ur * 4.0, 1.0)), 6) AS quality
FROM m
"""


def q_doc_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language heuristic (operators/text.py::detect_language):
    detected-language distribution."""
    (documents,) = _t(spark, sf_dir, "documents")
    return (
        documents.select(text_ops.detect_language(F.col("text")).alias("lang_detected"))
        .groupBy("lang_detected")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_DOC_LANG_DETECT = """
WITH words AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '[^a-z]+') AS ws
  FROM documents
), scored AS (
  SELECT doc_id, list_max([
    {'hits': len(list_filter(ws, x -> x IN ('the','and','of','to','in'))), 'lang': 'en'},
    {'hits': len(list_filter(ws, x -> x IN ('der','die','und','das','ist'))), 'lang': 'de'},
    {'hits': len(list_filter(ws, x -> x IN ('le','la','et','les','des'))), 'lang': 'fr'},
    {'hits': len(list_filter(ws, x -> x IN ('el','la','de','que','los'))), 'lang': 'es'}
  ]) AS best
  FROM words
)
SELECT CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_detected,
       count(*) AS n_docs
FROM scored GROUP BY 1
"""


def q_dedup_docs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup via md5 fingerprint groupBy
    (operators/dedup.py::exact_dedup) — shuffle on the 16-byte hash, never
    the text body."""
    (documents,) = _t(spark, sf_dir, "documents")
    fp = F.md5(dedup_ops.normalize_text(F.col("text")))
    return (
        documents.select(F.col("doc_id"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("dup_count"))
    )


SQL_DEDUP_DOCS_EXACT = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       min(doc_id) AS rep_doc_id,
       count(*)    AS dup_count
FROM documents
GROUP BY 1
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (operators/dedup.py) — the exact
    version of what MinHash-LSH approximates; posting-list join on shared
    shingles, never O(n²)."""
    (documents,) = _t(spark, sf_dir, "documents")
    out = dedup_ops.ngram_jaccard_pairs(
        documents, "text", "doc_id", n=3, threshold=0.8
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


SQL_NGRAM_JACCARD_PAIRS = """
WITH w AS (
  SELECT doc_id, string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
  FROM documents
), idx AS (
  SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
  FROM w
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS sh FROM idx
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(jac, 6) AS jaccard FROM (
  SELECT id_a, id_b,
         inter.i / (sa.sz + sb.sz - inter.i) AS jac
  FROM inter
  JOIN sizes sa ON inter.id_a = sa.doc_id
  JOIN sizes sb ON inter.id_b = sb.doc_id
)
WHERE jac >= 0.8
"""


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search
    (operators/similarity.py::cosine_topk_batched): every 50th vector queries
    the corpus; scoring is one numpy matmul per Arrow batch against the
    broadcast query matrix with per-batch top-k (~2.7x the interpreted
    zip_with expression form, which tests/ref_similarity.py::cosine_topk
    keeps as reference)."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    corpus = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = corpus.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim_ops.cosine_topk_batched(corpus, queries, k=5).select(
        "query_id", "vec_id", "cosine_sim", "rank"
    )


SQL_EMBEDDING_TOPK = """
WITH c AS (
  SELECT vec_id, embedding FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0
), scored AS (
  SELECT q.query_id, c.vec_id,
         round(
           list_sum(list_transform(list_zip(q.qv, c.embedding),
                                   x -> x[1]::DOUBLE * x[2]::DOUBLE))
           / (sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))),
           6) AS cosine_sim
  FROM c, q
  WHERE c.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine_sim, rank FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# rows-only entries (not ANSI-SQL-expressible: approximate / stateful /
# iterative operators) — driver records the weaker rows-only check
# ---------------------------------------------------------------------------

def q_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (operators/dedup.py), upgraded
    from rows-only to HASH-CHECKED by the constructive-corpus pattern
    (the image_ahash_dedup treatment): 200 sampled doc ids are rewritten
    into 50 duplicate classes whose 12-word token streams are identical
    within a class and word-disjoint across classes (class vocabularies
    spaced 37 > 12 words apart).  Identical shingle sets give identical
    MinHash signatures — every band collides, recall 1 by construction;
    disjoint shingle sets give independent 64-bit minima, so a cross-class
    band collision needs a 256-bit coincidence.  The candidate set is
    therefore derivable by arithmetic: exactly the same-class pairs.  The
    FULL production path (word shingling, blake2b+mix signature kernel,
    banding, max_bucket guard, bucket join) executes end-to-end; the
    real-corpus behavior stays covered by the hash-checked
    minhash_verified_dups / ngram_jaccard_pairs contract pair."""
    (documents,) = _t(spark, sf_dir, "documents")
    synth = documents.filter(F.col("doc_id") < 200).select(
        "doc_id",
        F.concat_ws(
            " ",
            *[
                F.format_string(
                    "w%d", (F.col("doc_id") % 50) * 37 + F.lit(i)
                )
                for i in range(12)
            ],
        ).alias("text"),
    )
    return dedup_ops.minhash_lsh_candidates(
        synth, "text", "doc_id", num_hashes=32, bands=8, shingle_n=3
    )


SQL_MINHASH_CANDIDATES = """
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200)
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM ids a JOIN ids b
  ON a.doc_id % 50 = b.doc_id % 50 AND a.doc_id < b.doc_id
"""


def q_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH-bucketed approximate top-k
    (operators/similarity.py::lsh_topk) — the 100 TB scale path of
    q_embedding_topk, 16 OR-amplified tables of 6 planes.

    FULL hash oracle via a planted-neighbor corpus (r8, VERDICT r7 item 5;
    the r5 minhash_candidates pattern): 64 ids from the embeddings table
    carry constructed vectors — direction g = vec_id // 8 (one-hot basis
    axis), magnitude (vec_id % 8) + 1.  Same-group vectors are POSITIVE
    MULTIPLES of one direction, so every hyperplane sign pattern is
    identical within a group in EVERY table — bucket collision is
    guaranteed by construction, not probabilistic — while cross-group
    cosine is exactly 0 and in-group cosine exactly 1.0 (x/x division,
    exact in IEEE).  The exact top-5 is therefore closed-form: the 5
    lowest same-group vec_ids (the operator's documented cosine-desc,
    vec_id-asc tie-break).  The whole production path still executes —
    per-table GEMM bucketing, OR-amplified candidate dedup, scoring, rank
    cut.  Approximate real-corpus recall stays covered by the
    oracle-checked `embedding_lsh_recall` contract; the self-check
    invariant columns stay (topk_self_contract)."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    g = F.floor(F.col("vec_id") / 8).cast("int")
    m = (F.col("vec_id") % 8 + 1).cast("double")
    corpus = embeddings.filter(F.col("vec_id") < 64).select(
        "vec_id",
        F.array(
            *[F.when(g == i, m).otherwise(F.lit(0.0)) for i in range(64)]
        ).alias("embedding"),
    )
    queries = corpus.filter(F.col("vec_id") % 8 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim_ops.lsh_topk(corpus, queries, k=5, n_planes=6, seed=42, n_tables=16)
    return sim_ops.topk_self_contract(out)


# the closed-form planted-corpus restatement is defined ONCE
# (queries_ext.SQL_PLANTED_TOPK) and shared with the IVF oracle — both
# operators produce the identical exact answer on this corpus; see the
# registration below (ORACLES["embedding_lsh_topk"]).


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (operators/graph.py) on the part↔supplier
    co-occurrence graph from lineitem — the NavMesh island analysis
    (`navmesh_connectivity.py:158-180`) restated.

    The edge set is the 1-in-97-orders sample: sparse enough that the graph
    has real island structure (the full graph is one giant component — no
    signal) AND that a DuckDB recursive-CTE closure can oracle the exact
    component sizes.  Uses the engine default `connected_components` — the
    large/small-star kernel, O(log²n) rounds regardless of graph diameter.
    Per-hop min-label propagation under a fixed iteration cap under-merged
    at sf0.1, exactly the failure mode that made star the default
    (SCALE.md); min-label survives as the test oracle
    tests/ref_graph.py::connected_components_minlabel."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    # Disjoint parity encoding (2k part / 2k+1 supplier) — an offset
    # encoding collides once partkey reaches the offset (~sf50).
    edges = (
        lineitem.filter(F.col("l_orderkey") % 97 == 0)
        .select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    comps = graph_ops.connected_components(edges)
    return comps.groupBy("component").agg(F.count(F.lit(1)).alias("size"))


SQL_CONNECTED_COMPONENTS = """
WITH RECURSIVE e AS (
  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst
  FROM lineitem WHERE l_orderkey % 97 = 0
), bidir AS (
  SELECT src AS s, dst AS d FROM e UNION SELECT dst, src FROM e
), walk(node, label) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM bidir)
  UNION
  SELECT b.d, w.label
  FROM walk w JOIN bidir b ON b.s = w.node
  WHERE w.label < b.d
), comp AS (
  SELECT node, min(label) AS component FROM walk GROUP BY node
)
SELECT component, count(*) AS size FROM comp GROUP BY component
"""


def q_rate_limited_angle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful sequential rate limiter (operators/stateful.py::rate_limit) —
    `transform_track.py:215-262`; output depends on previous OUTPUT, so it is
    an applyInPandas scan, not a window."""
    (events,) = _t(spark, sf_dir, "events")
    series = events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        ((F.col("event_id") * 37) % 360 - 180).cast("double").alias("angle"),
    )
    out = stateful_ops.rate_limit(
        series, "user_id", "t_us", "angle", max_rate=30.0, dt=1.0, lo=-170.0, hi=170.0,
        out_col="limited",
    )
    return out.select("user_id", "event_id", "angle", F.round("limited", 6).alias("limited"))


SQL_RATE_LIMITED_ANGLE = """
WITH RECURSIVE series AS (
  SELECT user_id, event_id,
         CAST((event_id * 37) % 360 - 180 AS DOUBLE) AS angle,
         row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS rn
  FROM events
), walk AS (
  SELECT user_id, event_id, angle, rn,
         greatest(-170.0, least(170.0, angle)) AS limited
  FROM series WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.event_id, s.angle, s.rn,
         greatest(-170.0, least(170.0,
           w.limited + greatest(-30.0, least(30.0, s.angle - w.limited))))
  FROM walk w JOIN series s ON s.user_id = w.user_id AND s.rn = w.rn + 1
)
SELECT user_id, event_id, angle, round(limited, 6) AS limited FROM walk
"""


def q_arc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arc-length resampling (operators/windows.py::arc_length_resample) —
    `nav_utils.py:233-271`: each user's event trail resampled to 10 points
    equally spaced in arc length."""
    (events,) = _t(spark, sf_dir, "events")
    path = events.select(
        "user_id",
        F.col("event_id").alias("ord"),
        F.col("value").alias("x"),
        ((F.col("event_id") % 100).cast("double")).alias("y"),
        F.lit(0.0).alias("z"),
    )
    out = win_ops.arc_length_resample(path, "user_id", "ord", 10)
    # + 0.0 normalizes IEEE negative zero (-0.0 + 0.0 = +0.0): at sf1.0 the
    # endpoint interpolation rounds a ~-1e-14 residue to -0.0 in one engine
    # and +0.0 in the other — same fix applied in the oracle SQL.
    return out.select(
        "user_id",
        "k",
        (F.round("x", 6) + F.lit(0.0)).alias("x"),
        (F.round("y", 6) + F.lit(0.0)).alias("y"),
    )


SQL_ARC_RESAMPLE = """
WITH path AS (
  SELECT user_id, event_id AS ord, value AS x,
         CAST(event_id % 100 AS DOUBLE) AS y, CAST(0.0 AS DOUBLE) AS z
  FROM events
), stepped AS (
  SELECT user_id, ord, x, y, z,
         coalesce(sqrt(power(x - lag(x) OVER w, 2)
                     + power(y - lag(y) OVER w, 2)
                     + power(z - lag(z) OVER w, 2)), 0.0) AS step
  FROM path WINDOW w AS (PARTITION BY user_id ORDER BY ord)
), cum AS (
  SELECT user_id, ord, x, y, z,
         CAST(sum(CAST(step AS DECIMAL(28,12)))
                OVER (PARTITION BY user_id ORDER BY ord
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cumd
  FROM stepped
), seg AS (
  SELECT user_id, cumd AS d0, lead(cumd) OVER w AS d1,
         row_number() OVER w AS segno,
         x AS x0, lead(x) OVER w AS x1,
         y AS y0, lead(y) OVER w AS y1
  FROM cum WINDOW w AS (PARTITION BY user_id ORDER BY ord)
  QUALIFY d1 IS NOT NULL
), total AS (
  SELECT user_id, max(cumd) AS ltot FROM cum GROUP BY user_id
), grid AS (
  SELECT t.user_id, t.ltot, g.k, g.k * t.ltot / 9 AS target_d
  FROM total t, generate_series(0, 9) AS g(k)
)
SELECT g.user_id, g.k,
       round(s.x0 + (CASE WHEN s.d1 > s.d0
                          THEN (g.target_d - s.d0) / (s.d1 - s.d0)
                          ELSE 0.0 END) * (s.x1 - s.x0), 6) + 0.0 AS x,
       round(s.y0 + (CASE WHEN s.d1 > s.d0
                          THEN (g.target_d - s.d0) / (s.d1 - s.d0)
                          ELSE 0.0 END) * (s.y1 - s.y0), 6) + 0.0 AS y
FROM grid g JOIN seg s
  ON g.user_id = s.user_id
 AND ((g.target_d >= s.d0
       AND (g.target_d < s.d1
            OR (g.k = 9 AND s.d1 = g.ltot AND s.d0 < s.d1)))
      OR (g.ltot = 0 AND s.segno = 1))
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

from .queries_analytics import ANALYTICS_ORACLES, ANALYTICS_QUERIES  # noqa: E402
from .queries_ext import (  # noqa: E402
    EXT_ORACLES,
    EXT_QUERIES,
    SQL_PLANTED_TOPK,
)
from .queries_mining import MINING_ORACLES, MINING_QUERIES  # noqa: E402
from .queries_tpch import TPCH_ORACLES, TPCH_QUERIES  # noqa: E402

_ALL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pricing_summary": q_pricing_summary,
    "catalog_stats": q_catalog_stats,
    "region_rollup": q_region_rollup,
    "nation_rollup_sets": q_nation_rollup_sets,
    "histogram_mode": q_histogram_mode,
    "grid_mode": q_grid_mode,
    "lineitem_extremes": q_lineitem_extremes,
    "segment_listing": q_segment_listing,
    "prefix_parts": q_prefix_parts,
    "top_orders_per_customer": q_top_orders_per_customer,
    "first_part_per_brand": q_first_part_per_brand,
    "asof_click_before_purchase": q_asof_click_before_purchase,
    "value_band_range_join": q_value_band_range_join,
    "customer_order_reconcile": q_customer_order_reconcile,
    "customers_without_orders": q_customers_without_orders,
    "user_event_gaps": q_user_event_gaps,
    "cumulative_user_value": q_cumulative_user_value,
    "sessionize": q_sessionize,
    "stalled_users": q_stalled_users,
    "unwrap_angle_series": q_unwrap_angle_series,
    "json_props_extract": q_json_props_extract,
    "doc_text_stats": q_doc_text_stats,
    "doc_quality": q_doc_quality,
    "doc_lang_detect": q_doc_lang_detect,
    "dedup_docs_exact": q_dedup_docs_exact,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "embedding_topk": q_embedding_topk,
    "arc_resample": q_arc_resample,
    "rate_limited_angle": q_rate_limited_angle,
    # minhash_candidates / connected_components / embedding_lsh_topk are
    # hash-checked (constructive corpus / recursive-CTE closure /
    # planted-neighbor corpus since r8).
    "minhash_candidates": q_minhash_candidates,
    "embedding_lsh_topk": q_embedding_lsh_topk,
    "connected_components": q_connected_components,
    **EXT_QUERIES,
    **TPCH_QUERIES,
    **ANALYTICS_QUERIES,
    **MINING_QUERIES,
}

# The driver hash-checks only the FIRST 50 entries of queries() per round.
# Round-10 rotation (VERDICT r9 item 1): nothing is red in CORRECTNESS_r09
# (50/50 green), so the window is (a) the three round-10 NEW queries —
# png_full_surface_contract (every IHDR-legal color-type × depth combo),
# wav_pcm_surface_contract (integer PCM 8/16/24/32-bit, mono+stereo) and
# bmp_surface_contract (indexed 1/4/8-bit + BI_RLE8); (b) every
# query whose implementation changed in round 10 — embedding_kmeans /
# semantic_dedup_keep (planted-corpus gate tightened to
# count+countDistinct, DISTINCT mirrored in the oracle guards — ADVICE
# r9), jpeg_lossless_contract / jpeg_hierarchical_contract (scan-length
# floor now derived from the parsed DHT tables' shortest code — ADVICE
# r9), png_palette_contract (pre-cast palette-index range check + the new
# PNG dims/inflate/Paeth caps sit on its code path), audio_dominant_bins
# (encode_wav_pcm generalized to the full PCM surface),
# image_ahash_dedup and multimodal_features_checked (_decode_bmp
# rewritten for the indexed/RLE surface); then (c) backfill by
# re-verification AGE: 39 of the 43-entry r4-stale cohort (union
# histogram recomputed from CORRECTNESS_r01..r09 this session;
# multimodal_features_checked is the cohort's 40th, counted in (b)).
# The 3 alphabetically-last cohort entries (variant_props_extract,
# weighted_sample_wor, zorder_cell_keys) did not fit the 50-slot window
# and are the FIRST backfill for round 11 — after them the r4 tier is
# retired and the staleness floor is r5.
# Every entry below is check_oracle PASS this session at sf0.01
# (new/changed set also at sf0.001/sf0.1 + a plain-session probe).
_DRIVER_WINDOW: list[str] = [
    # round-10 NEW (3)
    "png_full_surface_contract",
    "wav_pcm_surface_contract",
    "bmp_surface_contract",
    # round-10 changed (8)
    "embedding_kmeans",
    "semantic_dedup_keep",
    "jpeg_lossless_contract",
    "jpeg_hierarchical_contract",
    "png_palette_contract",
    "audio_dominant_bins",
    "image_ahash_dedup",
    "multimodal_features_checked",
    # staleness backfill: r4-stale cohort, alphabetical (39 of 43;
    # multimodal_features_checked counted above, 3 carried to r11)
    "bloom_decontamination",
    "bm25_topk_search",
    "cdc_snapshot_apply",
    "char_entropy_score",
    "cohort_retention",
    "csv_roundtrip_stats",
    "curation_pipeline_stats",
    "doc_chunk_windows",
    "embedding_quantize_audit",
    "event_rate_zscore",
    "event_value_rank_bands",
    "ewma_event_value",
    "funnel_conversion",
    "gopher_quality_flags",
    "incremental_agg_maintenance",
    "incremental_dedup_audit",
    "join_skew_diagnosis",
    "jsonl_roundtrip_stats",
    "k_anonymity_audit",
    "last_touch_attribution",
    "lateral_topk_suppliers",
    "orc_roundtrip_stats",
    "pagerank_scores",
    "partition_pruned_stats",
    "pit_customer_status",
    "recursive_discount_chain",
    "reservoir_sample_groups",
    "scd2_status_history",
    "sentence_split_udtf",
    "session_funnel",
    "simulate_contract",
    "simulate_trajectories",
    "sql_udf_tokens",
    "streaming_cdc_parity",
    "streaming_ewma_parity",
    "table_stats_contract",
    "triangle_count",
    "value_band_bucketed",
    "value_histogram",
]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    **{n: _ALL_QUERIES[n] for n in _DRIVER_WINDOW},
    **_ALL_QUERIES,
}

ORACLES: dict[str, str] = {
    "pricing_summary": SQL_PRICING_SUMMARY,
    "catalog_stats": SQL_CATALOG_STATS,
    "region_rollup": SQL_REGION_ROLLUP,
    "nation_rollup_sets": SQL_NATION_ROLLUP_SETS,
    "histogram_mode": SQL_HISTOGRAM_MODE,
    "grid_mode": SQL_GRID_MODE,
    "lineitem_extremes": SQL_LINEITEM_EXTREMES,
    "segment_listing": SQL_SEGMENT_LISTING,
    "prefix_parts": SQL_PREFIX_PARTS,
    "top_orders_per_customer": SQL_TOP_ORDERS_PER_CUSTOMER,
    "first_part_per_brand": SQL_FIRST_PART_PER_BRAND,
    "asof_click_before_purchase": SQL_ASOF_CLICK_BEFORE_PURCHASE,
    "value_band_range_join": SQL_VALUE_BAND_RANGE_JOIN,
    "customer_order_reconcile": SQL_CUSTOMER_ORDER_RECONCILE,
    "customers_without_orders": SQL_CUSTOMERS_WITHOUT_ORDERS,
    "user_event_gaps": SQL_USER_EVENT_GAPS,
    "cumulative_user_value": SQL_CUMULATIVE_USER_VALUE,
    "sessionize": SQL_SESSIONIZE,
    "stalled_users": SQL_STALLED_USERS,
    "unwrap_angle_series": SQL_UNWRAP_ANGLE_SERIES,
    "json_props_extract": SQL_JSON_PROPS_EXTRACT,
    "doc_text_stats": SQL_DOC_TEXT_STATS,
    "doc_quality": SQL_DOC_QUALITY,
    "doc_lang_detect": SQL_DOC_LANG_DETECT,
    "dedup_docs_exact": SQL_DEDUP_DOCS_EXACT,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "embedding_topk": SQL_EMBEDDING_TOPK,
    "arc_resample": SQL_ARC_RESAMPLE,
    "rate_limited_angle": SQL_RATE_LIMITED_ANGLE,
    "connected_components": SQL_CONNECTED_COMPONENTS,
    "minhash_candidates": SQL_MINHASH_CANDIDATES,
    "embedding_lsh_topk": SQL_PLANTED_TOPK,
    **EXT_ORACLES,
    **TPCH_ORACLES,
    **ANALYTICS_ORACLES,
    **MINING_ORACLES,
}

# minhash_verified_dups is a containment + recall-floor CONTRACT since
# round 5: the earlier pair-list-equality oracle assumed full LSH recall,
# which held only below sf1.0 (first genuine borderline-J miss: 187/188).
# Its oracle lives in EXT_ORACLES beside the query; the exact pair list
# stays hash-checked as ngram_jaccard_pairs.
