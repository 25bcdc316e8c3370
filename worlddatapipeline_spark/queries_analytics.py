"""Round-3 analytics additions: Bloom-pruned decontamination, quantile
sketch contract, anomaly detection, funnel analysis, deterministic
group sampling.

Each entry follows the registry contract: a ``(spark, sf_dir) ->
DataFrame`` callable plus (where expressible) an ANSI-SQL oracle DuckDB
runs over the same parquet — column names aliased identically on both
sides.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import bloom as bloom_ops
from .session import (
    _t,
    literal_frame,
    materialize_and_release,
    route_by_rows,
    streaming_events,
)
from .streaming.monitor import run_stream_to_memory


# ---------------------------------------------------------------------------
# Bloom-pruned decontamination (LLM-pipeline extension)
# ---------------------------------------------------------------------------

def q_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-side decontamination with a broadcast Bloom prefilter: flag
    TRAIN documents containing any 5-word shingle from the (small) TEST
    split — the mirror image of `train_test_decontamination`, which audits
    the test side.

    Physical plan at 100 TB: the test split's shingle set is benchmark-
    sized (MBs), so it becomes a broadcast Bloom (operators/bloom.py);
    train shingles are probed AT THE MAP SIDE and only probable hits reach
    the exact verify-join.  Bloom has no false negatives, so the output is
    byte-identical to the plain exact semi-join the oracle states — the
    sketch changes the plan (corpus never shuffles its full shingle set),
    never the result.  Per-doc totals come from a separate map-side
    aggregate over the un-pruned shingles (no join, combine-heavy).
    Reference parity: manifest-lookup pruning in `scene_copy.py:167-204`,
    scaled out."""
    (documents,) = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 100
    )
    shingled = (
        documents.select("doc_id", bucket.alias("b"), words.alias("words"))
        .filter(F.size("words") >= 5)
        .select(
            "doc_id",
            "b",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - 4),
                    lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("words"), i, 5))),
                )
            ).alias("h"),
        )
    )
    # ONE per-doc-distinct shingle frame (r11): deduping (doc_id, b, h)
    # once up front makes both splits filters of the same exchange, so the
    # corpus is md5-exploded once; the train side needs NO further
    # distinct (already per-doc distinct).
    sh_d = shingled.distinct()
    test_shingles = sh_d.filter(F.col("b") >= 90).select("h").distinct()
    train = sh_d.filter(F.col("b") < 80).select("doc_id", "h")

    totals = train.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    # Bloom prefilter (map-side, no shuffle of the train shingle set), then
    # exact verify against the true test set to strip false positives.
    candidates = bloom_ops.bloom_prune(
        train, "h", test_shingles, F.col("h"), fpp=0.01
    )
    contaminated = (
        candidates.join(test_shingles, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return totals.join(contaminated, "doc_id", "inner").select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        F.round(F.col("n_contaminated") / F.col("n_shingles"), 6).alias(
            "contamination_ratio"
        ),
    )


SQL_BLOOM_DECONTAMINATION = """
WITH worded AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b,
         string_split(text, ' ') AS words
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, b,
         md5(array_to_string(list_slice(words, i, i + 4), ' ')) AS h
  FROM (
    SELECT doc_id, b, words,
           unnest(generate_series(1, len(words) - 4)) AS i
    FROM worded
    WHERE len(words) >= 5
  )
), test AS (
  SELECT DISTINCT h FROM sh WHERE b >= 90
), train AS (
  SELECT doc_id, h FROM sh WHERE b < 80
), tot AS (
  SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id
), cont AS (
  SELECT t.doc_id, count(*) AS n_contaminated
  FROM train t
  WHERE EXISTS (SELECT 1 FROM test WHERE test.h = t.h)
  GROUP BY t.doc_id
)
SELECT tot.doc_id, tot.n_shingles, cont.n_contaminated,
       round(cont.n_contaminated / tot.n_shingles, 6) AS contamination_ratio
FROM tot JOIN cont ON tot.doc_id = cont.doc_id
"""


# ---------------------------------------------------------------------------
# Quantile sketch contract
# ---------------------------------------------------------------------------

def q_approx_quantile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch rank contract: `percentile_approx` (Greenwald-Khanna
    sketch — THE 100 TB percentile path: bounded state, one pass,
    mergeable; exact percentile is holistic and must see every value) at
    accuracy=1000 guarantees rank error <= 1/1000.  Verified from first
    principles: re-rank each sketch output against the data — the fraction
    of rows <= the approx p-quantile must sit within p ± 0.005 (5x the
    guarantee; no flake room on a fixed corpus).  Emits row count + the
    three boolean bound checks; the oracle states the exact count and
    `true` for each bound."""
    (events,) = _t(spark, sf_dir, "events")
    sk = events.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.percentile_approx("value", [0.5, 0.95, 0.99], 1000).alias("qs"),
    )
    ranked = events.crossJoin(F.broadcast(sk)).agg(
        F.first("n_rows").alias("n_rows"),
        (F.sum((F.col("value") <= F.element_at("qs", 1)).cast("long")) / F.first("n_rows")).alias("r50"),
        (F.sum((F.col("value") <= F.element_at("qs", 2)).cast("long")) / F.first("n_rows")).alias("r95"),
        (F.sum((F.col("value") <= F.element_at("qs", 3)).cast("long")) / F.first("n_rows")).alias("r99"),
    )
    return ranked.select(
        "n_rows",
        (F.abs(F.col("r50") - 0.5) <= 0.005).alias("p50_ok"),
        (F.abs(F.col("r95") - 0.95) <= 0.005).alias("p95_ok"),
        (F.abs(F.col("r99") - 0.99) <= 0.005).alias("p99_ok"),
    )


SQL_APPROX_QUANTILE_CONTRACT = """
SELECT count(*) AS n_rows,
       true AS p50_ok, true AS p95_ok, true AS p99_ok
FROM events
"""


# ---------------------------------------------------------------------------
# Anomaly detection: per-user hourly event-rate z-score
# ---------------------------------------------------------------------------

def q_event_rate_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-rate anomaly detection: bucket events into hours,
    z-score each active hour against that user's own mean/stddev_pop of
    hourly counts, count hours with |z| > 2.  Two shuffles total — the
    (user, hour) count and the per-user moment aggregate — both partial-
    aggregated map-side; the z evaluation is a broadcast-free second agg
    over the tiny hourly frame.  All-arithmetic on integer counts, so the
    rounded z statistics are engine-stable."""
    (events,) = _t(spark, sf_dir, "events")
    hourly = events.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    stats = hourly.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.avg("cnt").alias("mu"),
        F.stddev_pop("cnt").alias("sigma"),
        F.max("cnt").alias("max_cnt"),
    )
    z_max = F.when(
        F.col("sigma") > 0, (F.col("max_cnt") - F.col("mu")) / F.col("sigma")
    ).otherwise(F.lit(0.0))
    n_anom = (
        hourly.join(stats, "user_id")
        .filter(
            (F.col("sigma") > 0)
            & (F.abs((F.col("cnt") - F.col("mu")) / F.col("sigma")) > 2)
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_anomalous"))
    )
    return (
        stats.join(n_anom, "user_id", "left")
        .select(
            "user_id",
            "n_hours",
            F.coalesce("n_anomalous", F.lit(0)).alias("n_anomalous"),
            F.round(z_max, 4).alias("max_z"),
        )
    )


SQL_EVENT_RATE_ZSCORE = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hr, count(*) AS cnt
  FROM events GROUP BY user_id, hr
), stats AS (
  SELECT user_id, count(*) AS n_hours, avg(cnt) AS mu,
         stddev_pop(cnt) AS sigma, max(cnt) AS max_cnt
  FROM hourly GROUP BY user_id
), anom AS (
  SELECT h.user_id, count(*) AS n_anomalous
  FROM hourly h JOIN stats s ON h.user_id = s.user_id
  WHERE s.sigma > 0 AND abs((h.cnt - s.mu) / s.sigma) > 2
  GROUP BY h.user_id
)
SELECT s.user_id, s.n_hours,
       COALESCE(a.n_anomalous, 0) AS n_anomalous,
       round(CASE WHEN s.sigma > 0
                  THEN (s.max_cnt - s.mu) / s.sigma ELSE 0.0 END, 4) AS max_z
FROM stats s LEFT JOIN anom a ON s.user_id = a.user_id
"""


# ---------------------------------------------------------------------------
# Funnel conversion
# ---------------------------------------------------------------------------

def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion (view -> click -> purchase): a user
    converts a stage only if the earliest later-stage event strictly
    follows the earliest earlier-stage event.  One shuffle: the per-user
    conditional-min aggregate (three `min(CASE)` columns in a single
    pass); the funnel booleans and the final one-row rollup are
    map-side.  The standard product-analytics query every OLAP engine
    ships; ordering on raw microsecond timestamps keeps it exact."""
    (events,) = _t(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("t_view").isNotNull().cast("long")).alias("n_view"),
        F.sum(
            (F.col("t_view") < F.col("t_click")).cast("long")
        ).alias("n_view_click"),
        F.sum(
            (
                (F.col("t_view") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_buy"))
            ).cast("long")
        ).alias("n_full_funnel"),
    )


SQL_FUNNEL_CONVERSION = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
  FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(sum(CASE WHEN t_view < t_click AND t_click < t_buy THEN 1 ELSE 0 END) AS BIGINT)
         AS n_full_funnel
FROM per_user
"""


# ---------------------------------------------------------------------------
# Deterministic per-group sampling
# ---------------------------------------------------------------------------

def q_reservoir_sample_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k per-group sample: the 5 events per event_type
    with the smallest md5(event_id) — a hash-rank sample, equivalent in
    distribution to a uniform reservoir but reproducible across runs,
    retries, and engines (the same no-rand() discipline as the
    deterministic split family).  Scale: per-group top-k by hash rank is a
    partial top-k per partition then a k-row-per-group merge — no global
    sort, no rand() non-determinism under task retry (Spark re-executes
    lost partitions; rand() samples would silently change)."""
    (events,) = _t(spark, sf_dir, "events")
    h = F.md5(F.col("event_id").cast("string"))
    w = Window.partitionBy("event_type").orderBy(h.asc(), F.col("event_id").asc())
    return (
        events.select("event_type", "event_id", h.alias("h"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("event_type", "event_id", F.col("rk").cast("long").alias("rk"))
    )


SQL_RESERVOIR_SAMPLE_GROUPS = """
SELECT event_type, event_id, rk
FROM (
  SELECT event_type, event_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
         ) AS rk
  FROM events
)
WHERE rk <= 5
"""


# ---------------------------------------------------------------------------
# Engine-surface parity: VARIANT, native recursive CTE, LATERAL join
# ---------------------------------------------------------------------------

def q_variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): `parse_json` shreds the
    `events.props` JSON string ONCE into the binary-encoded VARIANT type;
    `variant_get` then does typed path extraction with no per-access
    re-parse.  At 100 TB this is the difference between parsing the JSON
    text per expression (`get_json_object` × N fields = N parses) and one
    parse + O(1) binary reads — and a VARIANT column persisted to parquet
    shreds into scannable subcolumns.  Oracle uses DuckDB's native JSON
    extraction over the same strings."""
    (events,) = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("k").cast("long")).alias("k_sum"),
            F.round(F.avg("k"), 6).alias("k_avg"),
            F.max("k").cast("long").alias("k_max"),
        )
    )


SQL_VARIANT_PROPS_EXTRACT = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS k_sum,
       round(avg(CAST(props->>'$.k' AS INTEGER)), 6) AS k_avg,
       CAST(max(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS k_max
FROM events
GROUP BY event_type
"""


# The SAME statement runs on Spark (native WITH RECURSIVE, Spark 4) and
# DuckDB: an acyclic walk up each order's linenumber chain compounding
# (1 - discount) in line order.  Depth is bounded by the max linenumber
# (7), so the recursion is a fixed small number of co-partitioned joins —
# the shape that scales; cyclic closures (UNION-distinct recursion) stay
# on the dedicated iterative operator (operators/graph.py), which Spark's
# recursive CTE cannot express yet (UNION ALL only).
_RECURSIVE_CHAIN_SQL = """
WITH RECURSIVE ranked AS (
  SELECT l_orderkey AS o,
         row_number() OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_extendedprice, l_partkey,
                    l_suppkey, l_quantity, l_discount
         ) AS ln,
         l_discount
  FROM lineitem WHERE l_orderkey % 11 = 0
), chain(o, ln, acc) AS (
  SELECT o, ln, CAST(1.0 AS DOUBLE) - l_discount
  FROM ranked WHERE ln = 1
  UNION ALL
  SELECT r.o, r.ln, c.acc * (CAST(1.0 AS DOUBLE) - r.l_discount)
  FROM chain c JOIN ranked r ON r.o = c.o AND r.ln = c.ln + 1
)
SELECT o AS orderkey,
       CAST(max(ln) AS BIGINT) AS n_lines,
       round(min(acc), 6) AS compounded_keep
FROM chain GROUP BY o
"""


def q_recursive_discount_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native recursive CTE (Spark 4 `WITH RECURSIVE`): walk each order's
    lines in a densified row_number order (the raw l_linenumber has gaps
    and duplicates in this corpus, which would fork/truncate a naive
    linenumber walk) compounding the kept fraction `(1-discount)` step by
    step — the textbook iterate-over-sequence shape.  `min(acc)` is the
    final chain value because the product is non-increasing (discounts
    are >= 0); multiplication order is identical on both engines by
    construction, so the doubles agree bit-for-bit before rounding.  The
    oracle is the LITERAL same statement run by DuckDB."""
    _t(spark, sf_dir, "lineitem")
    return spark.sql(_RECURSIVE_CHAIN_SQL)


def q_lateral_topk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: per nation, the top-2 suppliers by
    account balance — the `JOIN LATERAL (... ORDER BY ... LIMIT k)` form
    Catalyst rewrites into the same ranked-window plan the DataFrame top-k
    queries use (DomainJoin -> window under the hood), so the SQL surface
    and the DataFrame surface price identically.  Deterministic tie-break
    on s_suppkey.  Same statement text on DuckDB."""
    _t(spark, sf_dir, "nation", "supplier")
    return spark.sql(_LATERAL_TOPK_SQL)


_LATERAL_TOPK_SQL = """
SELECT n_name, s_name, round(s_acctbal, 2) AS acctbal
FROM nation n, LATERAL (
  SELECT s_name, s_acctbal
  FROM supplier s
  WHERE s.s_nationkey = n.n_nationkey
  ORDER BY s_acctbal DESC, s_suppkey
  LIMIT 2
) t
"""


def q_table_stats_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics in ONE pass over orders — the stats
    layer a cost-based optimizer feeds on: per-column null fraction,
    min/max, and sketch-based distinct counts.  Exact values hash-check
    directly; the HLL++ ndv estimates are emitted as containment booleans
    (within 5x the configured rsd of the exact count) because a sketch
    estimate is engine-specific by nature.  At 100 TB this single
    combine-heavy aggregate IS how table stats get refreshed — never a
    per-column rescan."""
    (orders,) = _t(spark, sf_dir, "orders")
    s = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_orderstatus").isNull().cast("long")).alias("null_status"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("min_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("max_date"),
        F.count_distinct("o_orderstatus").alias("ndv_status_exact"),
        F.count_distinct("o_custkey").alias("ndv_cust_exact"),
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("ndv_cust_approx"),
        F.approx_count_distinct("o_orderpriority", rsd=0.01).alias("ndv_prio_approx"),
        F.count_distinct("o_orderpriority").alias("ndv_prio_exact"),
    )
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) / F.col(e) <= 0.05
    )
    return s.select(
        "n_rows",
        "null_status",
        "min_date",
        "max_date",
        "ndv_status_exact",
        "ndv_cust_exact",
        within("ndv_cust_approx", "ndv_cust_exact").alias("cust_ndv_ok"),
        within("ndv_prio_approx", "ndv_prio_exact").alias("prio_ndv_ok"),
    )


SQL_TABLE_STATS_CONTRACT = """
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_status,
       strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_date,
       strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date,
       count(DISTINCT o_orderstatus) AS ndv_status_exact,
       count(DISTINCT o_custkey) AS ndv_cust_exact,
       true AS cust_ndv_ok,
       true AS prio_ndv_ok
FROM orders
"""


def q_asof_next_click_after_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — the other direction of the nearest-key
    operator (operators/joins.py::asof_join, direction='forward'): for
    each view event, the first click at-or-after it by the same user.
    Same single-shuffle union+window formulation as the backward form the
    r1-verified `asof_click_before_purchase` covers; this query pins the
    forward window (first over the following frame) against a plain SQL
    restatement.  Times compared as exact microsecond longs."""
    from .operators import joins as join_ops

    (events,) = _t(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", F.unix_micros("ts").alias("t_us")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("t_us")
    )
    out = join_ops.asof_join(
        views,
        clicks.withColumn("click_us", F.col("t_us")),
        on="user_id",
        left_ts="t_us",
        right_ts="t_us",
        value_cols=["click_us"],
        direction="forward",
    )
    return out.select("user_id", "event_id", "click_us")


SQL_ASOF_NEXT_CLICK_AFTER_VIEW = """
WITH v AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events
  WHERE event_type = 'view'
), c AS (
  SELECT user_id, epoch_us(ts) AS t_us FROM events WHERE event_type = 'click'
)
SELECT v.user_id, v.event_id, min(c.t_us) AS click_us
FROM v LEFT JOIN c ON c.user_id = v.user_id AND c.t_us >= v.t_us
GROUP BY v.user_id, v.event_id
"""


def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped ordered funnel: the funnel_conversion logic applied
    WITHIN gap-based sessions (same 30-min rule as `sessionize`) instead
    of per lifetime — the form product analytics actually reports
    ("conversion within a visit").  Composition: gaps-and-islands session
    ids (two windows over one sort) → per-(user, session) conditional
    mins (one shuffle) → one-row rollup.  Exact microsecond ordering
    end-to-end, with the event_id tie-break on BOTH engines' session
    windows so a timestamp tie cannot shift a session boundary."""
    from .operators import windows as win_ops

    (events,) = _t(spark, sf_dir, "events")
    sess = win_ops.with_session_ids(events).select(
        "user_id", "event_type", "ts", "session_id"
    )
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    return per_sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.col("t_view").isNotNull().cast("long")).alias("n_view"),
        F.sum((F.col("t_view") < F.col("t_click")).cast("long")).alias(
            "n_view_click"
        ),
        F.sum(
            (
                (F.col("t_view") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_buy"))
            ).cast("long")
        ).alias("n_full_funnel"),
    )


SQL_SESSION_FUNNEL = """
WITH g AS (
  SELECT user_id, event_type, ts, event_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS gap
  FROM events
), s AS (
  SELECT user_id, event_type, ts,
         sum(CASE WHEN gap IS NULL OR gap > 1800 * 1000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
), per_sess AS (
  SELECT user_id, session_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
  FROM s GROUP BY user_id, session_id
)
SELECT count(*) AS n_sessions,
       CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(sum(CASE WHEN t_view < t_click AND t_click < t_buy THEN 1 ELSE 0 END) AS BIGINT)
         AS n_full_funnel
FROM per_sess
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the canonical growth-analytics query: users
    cohorted by first-event DAY, then distinct active users per (cohort
    day, day offset).  Two shuffles: the per-user first-day aggregate and
    the distinct-count per cell; the first-day frame joins back on
    user_id WITHOUT a broadcast hint — it is per-user (O(users), NOT a
    tiny dim at corpus scale), and both sides already hash-partition on
    user_id so the join reuses the aggregate's exchange.  Day arithmetic
    on date_trunc'd timestamps is exact on both engines."""
    (events,) = _t(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    first_day = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(first_day, "user_id")
        .select(
            "user_id",
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .groupBy("cohort", "day_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


SQL_COHORT_RETENTION = """
WITH days AS (
  SELECT user_id, date_trunc('day', ts) AS day FROM events
), first_day AS (
  SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id
)
SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort,
       CAST(date_diff('day', f.cohort_day, d.day) AS BIGINT) AS day_offset,
       count(DISTINCT d.user_id) AS active_users
FROM days d JOIN first_day f ON d.user_id = f.user_id
GROUP BY 1, 2
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (the optimizer-statistics sibling of
    table_stats_contract): 20 fixed-width bins over events.value with the
    bin edges derived from a broadcast 1-row min/max aggregate — the
    standard two-pass histogram build (stats pass + binning pass), each
    pass one scan, the bin assignment pure codegen'd arithmetic.  The max
    value lands in the last bin (least() clamp), matching the SQL
    restatement exactly because the bin index is computed from the SAME
    double arithmetic on both engines.  NULL values are excluded up front
    — without the filter a NULL bin index slips through least() (which
    skips NULLs on BOTH engines) and lands in the top bin, silently
    inflating it.  (Degenerate hi == lo input — a constant column —
    divides by zero on both sides; histogram a constant column with
    count(*) instead.)"""
    (events,) = _t(spark, sf_dir, "events")
    events = events.filter(F.col("value").isNotNull())
    mm = events.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    binned = events.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.floor(
                (F.col("value") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / 20)
            ).cast("long"),
            F.lit(19),
        ).alias("bin")
    )
    return binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))


SQL_VALUE_HISTOGRAM = """
WITH mm AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
SELECT least(CAST(floor((value - lo) / ((hi - lo) / 20)) AS BIGINT), 19) AS bin,
       count(*) AS n
FROM events, mm
WHERE value IS NOT NULL
GROUP BY 1
"""


def count_triangles_in_projection(ps: DataFrame) -> DataFrame:
    """Triangle count over the low-id→high-id oriented projection of a
    bipartite (p, s) co-occurrence frame — the shared kernel
    q_triangle_count and its known-graph unit test both call, so the test
    exercises the shipped algorithm rather than a copy."""
    a, b = ps.alias("a"), ps.alias("b")
    edges = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    return (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the derived co-occurrence graph — the classic
    graph-analytics aggregate (clustering coefficient's numerator).  The
    standard distributed formulation: orient every edge low-id -> high-id
    (kills duplicate counting AND bounds the join fan-out by degeneracy),
    then one self-join builds wedges and one semi-join closes them.  Two
    shuffles on 8-byte keys; no vertex ever sees more than its oriented
    neighbourhood.  The oracle restates it as a SQL triple join with the
    same orientation.  (The bipartite part<->supplier graph has no
    odd cycles, so a part<->part projection edge set — parts sharing a
    supplier — is used; triangles there are real co-occurrence cliques.)

    Scale caveat: the PROJECTION join is O(d²) per supplier — on a corpus
    where one hub entity touches millions of parts, cap or sample hub
    degrees before projecting (same posting-list `max_df` discipline as
    ngram_jaccard_pairs); the triangle join itself stays degeneracy-
    bounded by the orientation."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    ps = (
        lineitem.filter(F.col("l_orderkey") % 97 == 0)
        .select(
            F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
        )
        .distinct()
    )
    return count_triangles_in_projection(ps)


SQL_TRIANGLE_COUNT = """
WITH ps AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s
  FROM lineitem WHERE l_orderkey % 97 = 0
), edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM ps a JOIN ps b ON a.s = b.s AND a.p < b.p
)
SELECT count(*) AS n_triangles
FROM edges e1
JOIN edges e2 ON e1.v = e2.u
JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
"""


def q_incremental_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup (§2.8 pattern): an INCOMING batch
    (md5-bucket >= 90, the same deterministic split rule as the
    decontamination family) is checked against the EXISTING corpus's
    content-hash index plus itself — a new doc is dropped if its exact
    text hash already exists in the corpus, or if an earlier incoming doc
    (min doc_id first-occurrence rule) claims the same hash.  At 100 TB
    the existing index is a bucketed 16-byte-hash table maintained across
    releases, so each increment joins only (incoming × its hash matches) —
    never rescanning the corpus text.  Emits the per-disposition audit
    counts every ingest run logs."""
    (documents,) = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 100
    )
    hashed = documents.select(
        "doc_id", bucket.alias("b"), F.md5("text").alias("h")
    )
    existing = hashed.filter(F.col("b") < 90).select("h").distinct()
    incoming = hashed.filter(F.col("b") >= 90)
    w_first = Window.partitionBy("h").orderBy("doc_id")
    flagged = (
        incoming.join(
            existing.withColumn("in_corpus", F.lit(1)), "h", "left"
        )
        .withColumn("rk", F.row_number().over(w_first))
        .select(
            F.when(F.col("in_corpus") == 1, F.lit("dup_of_corpus"))
            .when(F.col("rk") > 1, F.lit("dup_within_batch"))
            .otherwise(F.lit("accepted"))
            .alias("disposition"),
        )
    )
    return flagged.groupBy("disposition").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


SQL_INCREMENTAL_DEDUP_AUDIT = """
WITH hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b,
         md5(text) AS h
  FROM documents
), existing AS (
  SELECT DISTINCT h FROM hashed WHERE b < 90
), incoming AS (
  SELECT doc_id, h,
         row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rk
  FROM hashed WHERE b >= 90
)
SELECT CASE
         WHEN h IN (SELECT h FROM existing) THEN 'dup_of_corpus'
         WHEN rk > 1 THEN 'dup_within_batch'
         ELSE 'accepted'
       END AS disposition,
       count(*) AS n_docs
FROM incoming
GROUP BY 1
"""


def q_csv_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink round-trip (§2.1): orders key columns written as
    headered CSV by the engine, read back with an explicit schema, and
    aggregated — hash-matched against the ORIGINAL parquet table, proving
    the text round-trip lossless for the exact (integer/string) columns a
    camera-export-style interchange uses.  Floating point deliberately
    stays OUT of the CSV contract: decimal text round-trips are where
    cross-tool drift lives (the same reason the camera sinks fix their
    format strings)."""
    return _roundtrip_stats(spark, sf_dir, "csv", {"header": True})


SQL_CSV_ROUNDTRIP_STATS = """
SELECT o_orderstatus, count(*) AS n,
       CAST(sum(o_custkey) AS BIGINT) AS custkey_sum,
       max(o_orderkey) AS max_orderkey
FROM orders
GROUP BY o_orderstatus
"""


def _roundtrip_stats(
    spark: SparkSession, sf_dir: str, fmt: str, options: dict | None = None
) -> DataFrame:
    """Shared body for the CSV / ORC / JSON-lines / XML round-trips: write
    the exact (integer/string) order columns in ``fmt`` with ``options``,
    read them back with an explicit schema and the same options, aggregate,
    and hash-match against the ORIGINAL parquet table.  Eager (the rows are
    collected inside try/finally), so the temp dir never leaks."""
    import shutil
    import tempfile

    (orders,) = _t(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix=f"wdp_{fmt}_")
    path = base + "/orders"
    try:
        sub = orders.select("o_orderkey", "o_custkey", "o_orderstatus")
        sub.write.mode("overwrite").format(fmt).options(**(options or {})).save(path)
        back = (
            spark.read.schema(
                "o_orderkey long, o_custkey long, o_orderstatus string"
            )
            .format(fmt)
            .options(**(options or {}))
            .load(path)
        )
        rows = back.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_custkey").alias("custkey_sum"),
            F.max("o_orderkey").alias("max_orderkey"),
        ).collect()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return literal_frame(
        spark, rows, "o_orderstatus string, n long, custkey_sum long, max_orderkey long"
    )


def q_orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip (§2.1): Spark's second columnar format,
    same lossless-aggregate contract as the CSV form."""
    return _roundtrip_stats(spark, sf_dir, "orc")


def q_jsonl_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source/sink round-trip (§2.1) — the reference's own
    interchange format for status files and manifests; exact columns only
    (ints survive JSON text, floats deliberately excluded)."""
    return _roundtrip_stats(spark, sf_dir, "json")


def q_xml_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink round-trip (§2.1) via Spark 4's NATIVE xml data
    source (built-in since 4.0 — previously the spark-xml package): same
    lossless exact-column contract as the CSV/ORC/JSONL forms.  rowTag is
    mandatory on both sides; schema stays explicit so attribute inference
    cannot drift the types."""
    return _roundtrip_stats(spark, sf_dir, "xml", options={"rowTag": "order"})


def q_doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunking (the RAG/context-window prep step):
    64-token windows with stride 48 per document, emitted as (doc_id,
    chunk_idx, n_tokens, chunk_hash).  Pure JVM expressions — split once,
    `transform(sequence(...))` slices the window starts, no Python, no
    shuffle at all until a downstream consumer groups — so it runs at
    scan speed on any corpus size.  The final short window is kept iff it
    adds tokens beyond the previous window (standard tail rule); the hash
    is md5 of the space-joined window so downstream chunk-level dedup
    (chunk_dedup_rewrite) composes directly."""
    (documents,) = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    # window starts: 1, 49, 97, … while start <= n (1-based slice)
    n_chunks = F.when(n <= 64, F.lit(1)).otherwise(
        F.ceil((n - 64).cast("double") / 48).cast("int") + 1
    )
    starts = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.least(n - i * 48, F.lit(64)).alias("n_tokens"),
            F.md5(
                F.concat_ws(" ", F.slice(words, i * 48 + 1, 64))
            ).alias("chunk_hash"),
        ),
    )
    return (
        documents.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").cast("long").alias("chunk_idx"),
            F.col("c.n_tokens").cast("long").alias("n_tokens"),
            F.col("c.chunk_hash").alias("chunk_hash"),
        )
    )


SQL_DOC_CHUNK_WINDOWS = """
WITH worded AS (
  SELECT doc_id, string_split(text, ' ') AS words, len(string_split(text, ' ')) AS n
  FROM documents
), idx AS (
  SELECT doc_id, words, n,
         unnest(generate_series(0,
           CASE WHEN n <= 64 THEN 0
                ELSE CAST(ceil((n - 64) / 48.0) AS INTEGER) END)) AS i
  FROM worded
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       CAST(least(n - i * 48, 64) AS BIGINT) AS n_tokens,
       md5(array_to_string(list_slice(words, i * 48 + 1, i * 48 + 64), ' '))
         AS chunk_hash
FROM idx
"""


def q_event_value_rank_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window family in one pass: ntile(4) quartile banding,
    percent_rank, and cume_dist per event_type ordered by (value,
    event_id) — the deterministic tie-break makes every rank
    engine-stable, and percent_rank/cume_dist are exact small-integer
    ratios so the doubles match bit-for-bit without rounding.  One
    shuffle (the window partition); all three functions share the same
    sort."""
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return events.select(
        "event_type",
        "event_id",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


SQL_EVENT_VALUE_RANK_BANDS = """
SELECT event_type, event_id,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""


# ---------------------------------------------------------------------------
# UDF-in-SQL surface: a registered Arrow-batched UDF callable from SQL text
# ---------------------------------------------------------------------------

def q_sql_udf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine extension surface: a vectorized (Arrow-batched pandas) UDF
    registered into the SQL function namespace with `spark.udf.register`,
    then invoked from LITERAL SQL text — how a user plugs a custom kernel
    into the declarative layer.  The kernel is the BPE-ish token estimate
    (same alternation as operators/text.py::word_like_token_count, here as
    a pandas `str.count` so the Python-side path is exercised); the oracle
    restates it with DuckDB regex counting.  Plan note: a Python UDF in a
    projection is an ArrowEvalPython stage — keep it OUT of join keys and
    filters so pushdown survives around it; here it feeds an aggregate
    only."""
    import re  # noqa: PLC0415

    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    # re.ASCII pins \s to ASCII whitespace (DuckDB's RE2 default) so a
    # Unicode space counts identically on both engines; fillna guards
    # null text (str.count yields NaN -> astype would raise).
    pat = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", re.ASCII)

    @pandas_udf("long")
    def wdp_token_est(text: pd.Series) -> pd.Series:
        return text.fillna("").str.count(pat).astype("int64")

    spark.udf.register("wdp_token_est", wdp_token_est)
    _t(spark, sf_dir, "documents")
    return spark.sql("""
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(wdp_token_est(text)) AS BIGINT) AS total_tokens,
               CAST(max(wdp_token_est(text)) AS BIGINT) AS max_tokens
        FROM documents
        GROUP BY source
    """)


SQL_SQL_UDF_TOKENS = """
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(COALESCE(text, ''), '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT)
         AS total_tokens,
       CAST(max(len(regexp_extract_all(COALESCE(text, ''), '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT)
         AS max_tokens
FROM documents
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Physical layout: hive-partitioned write → partition-pruned read
# ---------------------------------------------------------------------------

def q_partition_pruned_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the physical-layout writer
    (catalog/layout.py::write_partitioned): events land hive-partitioned
    by event_type, then the read filters two types — at 100 TB a
    `scene=`/`date=`-style layout turns that predicate into PARTITION
    PRUNING (whole directories skipped at planning time), not just
    row-group skipping; tests/test_plans.py pins `PartitionFilters` on
    this read.  Values are aggregated through DECIMAL(28,6) on both
    engines (the cross-engine float-sum rule) so the oracle — plain SQL
    over the ORIGINAL table — hash-matches, proving the layout round-trip
    is lossless."""
    import tempfile
    import uuid

    from .catalog import layout as layout_ops

    (events,) = _t(spark, sf_dir, "events")
    # The returned frame stays LAZY over the written layout (the plan test
    # needs PartitionFilters visible pre-execution), so this run's dir
    # can't be removed here — instead sweep dirs left by PRIOR runs, which
    # bounds the /tmp footprint to one layout.
    import glob
    import os
    import shutil
    import time

    for old in glob.glob(tempfile.gettempdir() + "/wdp_part_*"):
        try:
            stale = time.time() - os.path.getmtime(old) > 3600
        except OSError:
            continue
        if stale:  # never race a concurrent run's live layout
            shutil.rmtree(old, ignore_errors=True)
    path = tempfile.gettempdir() + "/wdp_part_" + uuid.uuid4().hex[:8]
    layout_ops.write_partitioned(
        events.select("event_id", "user_id", "event_type", "value"),
        path,
        ["event_type"],
    )
    back = spark.read.parquet(path).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 4
        ).alias("value_sum"),
    )


SQL_PARTITION_PRUNED_STATS = """
SELECT event_type, count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 4) AS value_sum
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Stateful sequential: exponential moving average
# ---------------------------------------------------------------------------

def q_ewma_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event value (alpha=0.25) in event-time order — the
    standard smoothing pass before thresholding/alerting.  Output depends
    on the previous OUTPUT, so like the rate limiter it is a sorted
    mapInPandas scan (operators/stateful.py::ewma), not a window frame.
    alpha=0.25 keeps every per-step constant exact in binary and decimal
    alike, and the oracle replays the recurrence step-for-step with a
    recursive CTE, so the output doubles are BIT-IDENTICAL across engines
    — which is why the query emits them unrounded: with quantized inputs
    and a dyadic alpha the exact values sit ON decimal round-half
    boundaries, where Spark's BigDecimal-expansion round() and DuckDB's
    multiply-shift round() disagree about the same double (measured: 2-3
    rows per 10k at round(6)).  Rounding inside a cross-engine contract
    is the bug; identical arithmetic is the guarantee."""
    from .operators import stateful as stateful_ops

    (events,) = _t(spark, sf_dir, "events")
    series = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("t_us"), "value"
    )
    out = stateful_ops.ewma(
        series, "user_id", ["t_us", "event_id"], "value",
        alpha=0.25, out_col="ewma",
    )
    return out.select("user_id", "event_id", "ewma")


SQL_EWMA_EVENT_VALUE = """
WITH RECURSIVE s AS (
  SELECT user_id, event_id, value,
         row_number() OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS rn
  FROM events
), w(user_id, event_id, rn, y) AS (
  SELECT user_id, event_id, rn, CAST(value AS DOUBLE) FROM s WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.event_id, s.rn,
         CAST(0.75 AS DOUBLE) * w.y + CAST(0.25 AS DOUBLE) * s.value
  FROM w JOIN s ON s.user_id = w.user_id AND s.rn = w.rn + 1
)
SELECT user_id, event_id, y AS ewma FROM w
"""


def q_streaming_ewma_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming EWMA (streaming/monitor.py::streaming_ewma,
    applyInPandasWithState numeric state) executed as a REAL two-batch
    Structured Streaming run over time-partitioned parquet batches — batch
    1 is the first half of event time, batch 2 the second — and
    hash-checked against the SAME recursive-CTE oracle as the batch
    `ewma_event_value`: the stream shares `ewma_series`, so if state
    carries correctly across the micro-batch boundary the doubles are
    bit-identical end to end.  Batches move through parquet (not JSON) so
    the doubles round-trip exactly."""
    import os
    import shutil
    import tempfile

    from .streaming.monitor import streaming_ewma

    (events,) = _t(spark, sf_dir, "events")
    series = events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("event_us"),
        "value",
    )
    lo, hi = series.agg(F.min("event_us"), F.max("event_us")).collect()[0]
    mid = (int(lo) + int(hi)) // 2

    base = tempfile.mkdtemp(prefix="stream_ewma_")
    src = os.path.join(base, "src")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    try:
        series.filter(F.col("event_us") <= mid).write.parquet(src)

        def run_batch():
            stream = spark.readStream.schema(
                "user_id long, event_id long, event_us long, value double"
            ).parquet(src)
            q = (
                streaming_ewma(stream, alpha=0.25)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_batch()
        series.filter(F.col("event_us") > mid).write.mode("append").parquet(src)
        run_batch()

        rows = spark.read.parquet(out).collect()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return literal_frame(spark, rows, "user_id long, event_id long, ewma double")


# ---------------------------------------------------------------------------
# Iterative graph: PageRank (fixed iterations) + BFS hop count
# ---------------------------------------------------------------------------

# Shared derived graph (same one connected_components uses): bipartite
# part <-> supplier co-occurrence from a lineitem sample, symmetrized.
_GRAPH_CTE = """
e AS (
  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst
  FROM lineitem WHERE l_orderkey % 97 = 0
), bidir AS (
  SELECT src AS s, dst AS d FROM e UNION SELECT dst, src FROM e
), nodes AS (
  SELECT DISTINCT s AS node FROM bidir
), deg AS (
  SELECT s AS node, count(*) AS outdeg FROM bidir GROUP BY s
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
)"""

# damping = 0.75 ON PURPOSE: 0.75 and 0.25 are exact in BOTH binary
# doubles and DuckDB's decimal literals, so the per-iteration arithmetic
# is bit-identical across engines up to summation order (the verify
# skill's cross-engine float rule).
_PAGERANK_ITER = """
, pr{k} AS (
  SELECT nodes.node,
         0.25 / (SELECT n FROM nn)
           + 0.75 * COALESCE(c.csum, CAST(0 AS DOUBLE)) AS pr
  FROM nodes LEFT JOIN (
    SELECT b.d AS node, sum(p.pr / dg.outdeg) AS csum
    FROM bidir b
    JOIN pr{j} p ON b.s = p.node
    JOIN deg dg ON dg.node = p.node
    GROUP BY b.d
  ) c ON c.node = nodes.node
)"""

SQL_PAGERANK_SCORES = (
    "WITH " + _GRAPH_CTE
    + ", pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes)"
    + "".join(_PAGERANK_ITER.format(k=k, j=k - 1) for k in range(1, 6))
    + "\nSELECT node, round(pr, 6) AS pr FROM pr5"
)


def q_pagerank_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (operators/graph.py::pagerank, 5 power
    iterations, damping 0.75) over the symmetrized part<->supplier
    co-occurrence graph.  The oracle restates the identical power method
    as five chained SQL CTEs — possible precisely because the iteration
    count is fixed, which is also what makes the distributed run
    deterministic and restartable.  Per iteration: one join + one
    aggregate, contributions shuffle on dst with map-side combine."""
    from .operators import graph as graph_ops

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    # Disjoint node encoding (2k even = part, 2k+1 odd = supplier): an
    # offset encoding (suppkey + 10M) silently merges nodes once partkey
    # reaches the offset (~sf50); parity encoding can never collide.
    e = (
        lineitem.filter(F.col("l_orderkey") % 97 == 0)
        .select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = graph_ops.pagerank(sym, n_iter=5, damping=0.75)
    return pr.select("node", F.round("pr", 6).alias("pr"))


SQL_BFS_HOPS = """
WITH RECURSIVE """ + _GRAPH_CTE + """,
seeds AS (
  SELECT node FROM nodes WHERE node % 20 = 0
), walk(node, hops) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT b.d, w.hops + 1
  FROM walk w JOIN bidir b ON b.s = w.node
  WHERE w.hops < 4
)
SELECT node, CAST(min(hops) AS BIGINT) AS hops
FROM walk GROUP BY node
"""


def q_bfs_hops_from_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier BFS (operators/graph.py::bfs_hops): minimum hop count from
    the round-numbered part nodes, capped at 4 hops, over the symmetrized
    co-occurrence graph.  The DuckDB oracle walks the same graph with a
    depth-bounded recursive CTE and takes min(hops) per node — UNION-
    distinct recursion, which DuckDB supports and Spark does not (Spark
    4's WITH RECURSIVE is UNION ALL-only), hence the dedicated frontier
    operator with an anti-join visited set on the Spark side."""
    from .operators import graph as graph_ops

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    # Same disjoint parity encoding as pagerank (2k part / 2k+1 supplier);
    # seeds = part nodes whose partkey % 10 == 0, i.e. node % 20 == 0.
    e = (
        lineitem.filter(F.col("l_orderkey") % 97 == 0)
        .select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    seeds = (
        e.select(F.col("src").alias("node"))
        .filter(F.col("node") % 20 == 0)
        .distinct()
    )
    return graph_ops.bfs_hops(e, seeds, max_hops=4)


def q_sentence_split_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine extension surface: a Python UDTF (Spark 4 table function) —
    one input row fans out to N output rows through the SQL namespace
    (`SELECT * FROM doc_sentences(...)` via LATERAL), the per-row-generator
    shape the reference's scanners use (`scene_scanner.py` yields rows per
    scene).  The UDTF splits a document into sentences with positions; the
    per-source rollup keeps the oracle comparison small.  Plan note: UDTFs
    run row-at-a-time Python — the registry's bulk splitters stay on the
    codegen'd `split`/`transform` path; this entry exists to cover (and
    pin) the table-function API surface itself."""
    from pyspark.sql.functions import udtf  # noqa: PLC0415

    @udtf(returnType="sent_idx int, sentence string, n_words int")
    class DocSentences:
        def eval(self, text: str):  # noqa: ANN001
            if not text:
                return
            parts = [s for s in text.split(". ") if s.strip()]
            for i, s in enumerate(parts):
                yield i, s, len([w for w in s.split(" ") if w])

    spark.udtf.register("doc_sentences", DocSentences)
    _t(spark, sf_dir, "documents")
    return spark.sql("""
        SELECT d.source,
               count(*) AS n_sentences,
               CAST(max(s.sent_idx) AS BIGINT) AS max_idx,
               CAST(sum(s.n_words) AS BIGINT) AS total_words
        FROM documents d, LATERAL doc_sentences(d.text) s
        GROUP BY d.source
    """)


SQL_SENTENCE_SPLIT_UDTF = r"""
WITH sents AS (
  SELECT source,
         unnest(list_filter(string_split(text, '. '),
                            s -> len(trim(s)) > 0)) AS sentence,
         generate_subscripts(list_filter(string_split(text, '. '),
                             s -> len(trim(s)) > 0), 1) - 1 AS sent_idx
  FROM documents WHERE text IS NOT NULL AND text <> ''
)
SELECT source,
       count(*) AS n_sentences,
       CAST(max(sent_idx) AS BIGINT) AS max_idx,
       CAST(sum(len(list_filter(string_split(sentence, ' '),
                                w -> w <> ''))) AS BIGINT) AS total_words
FROM sents GROUP BY source
"""


def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules beyond repetition (Rae et al. 2021
    §A1.1, public): duplicate-line fraction, bullet/ellipsis line ratios,
    alphabetic-word fraction, mean-word-length bounds
    (operators/text.py::gopher_quality_flags).  Every signal is a pure
    Catalyst expression over one line-split and one word-split — a
    zero-shuffle map stage that fuses with the consuming filter at any
    corpus size.  All ratios derive from exact integer counts and one
    division, so the oracle hash-matches without float-summation caveats."""
    from .operators import text as text_ops

    documents, = _t(spark, sf_dir, "documents")
    return text_ops.gopher_quality_flags(documents)


SQL_GOPHER_QUALITY_FLAGS = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\. '),
                     s -> len(trim(s)) > 0) AS lines,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                      ' ') AS words
  FROM documents
), m AS (
  SELECT doc_id,
         len(lines) AS n_lines,
         len(lines) - len(list_distinct(lines)) AS dup_lines,
         len(list_filter(lines, s -> regexp_matches(trim(s), '^[-*•]')))
           AS bullets,
         len(list_filter(lines, s -> regexp_matches(s, '\.\.\.$')))
           AS ellipses,
         len(words) AS n_words,
         len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
           AS alpha_words,
         list_sum(list_transform(words, w -> len(w))) AS total_wlen
  FROM base
)
SELECT doc_id,
       n_lines,
       CASE WHEN n_lines > 0 THEN round(dup_lines / n_lines, 6)
            ELSE 0.0 END AS dup_line_frac,
       CASE WHEN n_lines > 0 THEN round(bullets / n_lines, 6)
            ELSE 0.0 END AS bullet_ratio,
       CASE WHEN n_lines > 0 THEN round(ellipses / n_lines, 6)
            ELSE 0.0 END AS ellipsis_ratio,
       round(alpha_words / n_words, 6) AS alpha_word_frac,
       round(total_wlen / n_words, 6) AS mean_word_len,
       (CASE WHEN n_lines > 0 THEN round(dup_lines / n_lines, 6)
             ELSE 0.0 END) <= 0.3
       AND round(alpha_words / n_words, 6) >= 0.8
       AND round(total_wlen / n_words, 6) >= 3.0
       AND round(total_wlen / n_words, 6) <= 10.0 AS keep_doc
FROM m
"""


def q_char_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-model character cross-entropy — the cheap stand-in for
    perplexity filtering (a real LM is a cluster dependency; a corpus char
    unigram model is exact, deterministic, and catches the same
    pathological tails: binary junk, one-char floods).  Two aggregations:
    per-(doc, char) counts, then corpus char frequencies (a few hundred
    rows — broadcast back), then bits/char = Σ c·(−log2 p) / len summed as
    DECIMAL(28,12) so summation order cannot move the hash (verify-skill
    float rule).  At 100 TB: one shuffle of (doc, char) pairs — bounded by
    alphabet size per doc, never text — and one broadcast join.  dc feeds
    TWO consumers (corpus freq + per-doc scoring) but both aggregate
    subtrees are byte-identical (doc_id is a grouping key, so pruning
    cannot specialize them) and ReuseExchange computes the explode once —
    an r11 persist+checkpoint variant measured SLOWER (1.33 → 1.76 s at
    sf0.1: it paid the materialization without removing any work)."""
    documents, = _t(spark, sf_dir, "documents")
    chars = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    dc = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    freq = dc.groupBy("ch").agg(F.sum("c").alias("cc"))
    tot = freq.agg(F.sum("cc").alias("t"))
    scored = (
        dc.join(F.broadcast(freq), "ch")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum(
                (
                    F.col("c") * -F.log2(F.col("cc") / F.col("t"))
                ).cast("decimal(28,12)")
            ).alias("bits"),
            F.sum("c").alias("n_chars"),
        )
    )
    return scored.select(
        "doc_id",
        "n_chars",
        F.round(F.col("bits").cast("double") / F.col("n_chars"), 6).alias(
            "bits_per_char"
        ),
    )


SQL_CHAR_ENTROPY_SCORE = """
WITH idx AS (
  SELECT doc_id, text, unnest(generate_series(1, len(text))) AS i
  FROM documents
), chars AS (
  SELECT doc_id, substring(text, i, 1) AS ch FROM idx
), dc AS (
  SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
), freq AS (
  SELECT ch, CAST(sum(c) AS BIGINT) AS cc FROM dc GROUP BY ch
), tot AS (
  SELECT CAST(sum(cc) AS BIGINT) AS t FROM freq
), scored AS (
  SELECT dc.doc_id,
         sum(CAST(dc.c * (-log2(freq.cc / (SELECT t FROM tot)))
                  AS DECIMAL(28,12))) AS bits,
         CAST(sum(dc.c) AS BIGINT) AS n_chars
  FROM dc JOIN freq USING (ch)
  GROUP BY dc.doc_id
)
SELECT doc_id, n_chars,
       round(CAST(bits AS DOUBLE) / n_chars, 6) AS bits_per_char
FROM scored
"""


def q_zorder_cell_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering key (catalog/layout.py::zorder_key — the
    Delta OPTIMIZE ZORDER / Iceberg sort-order technique) computed per
    (user-bucket, value-bucket) cell of the events table, with the cell's
    row count.  The key is a fixed sum of literal bit-shifts — pure
    codegen'd JVM arithmetic, restated VERBATIM in the oracle via
    `zorder_key_sql`, so the interleave is verified bit-for-bit per cell.
    In production this key feeds `repartitionByRange` +
    `sortWithinPartitions` at write time so parquet min/max stats prune
    2-D predicates; the verified piece is the key function itself."""
    from .catalog.layout import zorder_key

    (events,) = _t(spark, sf_dir, "events")
    xb = (F.col("user_id") % 16).cast("long")
    yb = (
        (F.floor(F.col("value")).cast("long") % 16 + 16) % 16
    ).cast("long")
    cells = events.select(
        xb.alias("xb"), yb.alias("yb")
    ).withColumn("zkey", zorder_key(F.col("xb"), F.col("yb"), bits=4))
    return cells.groupBy("xb", "yb", "zkey").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def _sql_zorder_cell_keys() -> str:
    from .catalog.layout import zorder_key_sql

    return f"""
WITH cells AS (
  SELECT user_id % 16 AS xb,
         ((CAST(floor(value) AS BIGINT) % 16) + 16) % 16 AS yb
  FROM events
)
SELECT xb, yb, {zorder_key_sql('xb', 'yb', bits=4)} AS zkey,
       count(*) AS n_rows
FROM cells GROUP BY xb, yb
"""


def q_join_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the pre-flight a 100 TB join runs before
    choosing between plain shuffle, AQE skew-split, and explicit salting
    (operators/joins.py::salted variants): per-key row counts, each hot
    key's share of the table, and the salt factor that would level it to
    the mean key population.  One partial-agg shuffle on the key; the
    top-10 is TakeOrderedAndProject, never a global sort."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    counts = lineitem.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = counts.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("nkeys")
    )
    enriched = counts.crossJoin(F.broadcast(tot)).select(
        "l_suppkey",
        "cnt",
        F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
        F.ceil(F.col("cnt") / (F.col("total") / F.col("nkeys")))
        .cast("long")
        .alias("salt_factor"),
    )
    return enriched.orderBy(F.col("cnt").desc(), F.col("l_suppkey")).limit(10)


SQL_JOIN_SKEW_DIAGNOSIS = """
WITH counts AS (
  SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY l_suppkey
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS nkeys FROM counts
)
SELECT l_suppkey, cnt,
       round(cnt / total, 6) AS share,
       CAST(ceil(cnt / (total / nkeys)) AS BIGINT) AS salt_factor
FROM counts, tot
ORDER BY cnt DESC, l_suppkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# BM25 full-text retrieval (operators/search.py)
# ---------------------------------------------------------------------------

_BM25_QUERIES = [
    ("q1", "spark join table"),
    ("q2", "hash index scan"),
    ("q3", "stream batch window"),
    ("q4", "vector value cache"),
]


def q_bm25_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 documents per text query under Lucene BM25
    (operators/search.py::bm25_topk): one-pass inverted index, broadcast
    query vocabulary as an inverted-index semi-join, corpus stats via a
    1-row broadcast aggregate.  Ranks order by the rounded score so a
    last-ulp float divergence cannot flip a rank across engines."""
    from .operators.search import bm25_topk

    (documents,) = _t(spark, sf_dir, "documents")
    queries = literal_frame(spark, _BM25_QUERIES, "query_id string, query_text string")
    return bm25_topk(documents, queries, k=5)


SQL_BM25_TOPK_SEARCH = """
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' '),
                     t -> t <> '') AS ts
  FROM documents
), tokens AS (
  SELECT id, len(ts) AS dl, unnest(ts) AS term FROM toks
), tf AS (
  SELECT id, dl, term, count(*) AS tf FROM tokens GROUP BY 1, 2, 3
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl
  FROM (SELECT DISTINCT id, dl FROM tf)
), qraw(query_id, query_text) AS (
  VALUES ('q1', 'spark join table'), ('q2', 'hash index scan'),
         ('q3', 'stream batch window'), ('q4', 'vector value cache')
), qterms AS (
  SELECT DISTINCT query_id,
         unnest(list_filter(
           string_split(lower(regexp_replace(trim(query_text), '\\s+', ' ', 'g')), ' '),
           t -> t <> '')) AS term
  FROM qraw
), dfreq AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN (SELECT term FROM qterms) GROUP BY 1
), scored AS (
  SELECT q.query_id, tf.id,
         round(sum(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
         ), 6) AS score
  FROM tf JOIN qterms q USING (term) JOIN dfreq USING (term), stats
  GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, id ASC) AS rank
  FROM scored
)
SELECT query_id, id AS doc_id, score, rank FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 and embedding cosine
# ---------------------------------------------------------------------------

# (text query, anchor embedding id): the dense leg scores each query as the
# anchor's embedding vector — anchors < 20 exist at every scale factor
# (embeddings is the smallest table at sf0.001).
_HYBRID_ANCHORS = [("q1", 0), ("q2", 5), ("q3", 10), ("q4", 15)]


def q_hybrid_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.) — the
    standard two-leg search stack of an LLM/RAG data pipeline: a LEXICAL
    leg (Lucene BM25 top-20, operators/search.py::bm25_topk) fused with a
    DENSE leg (exact cosine top-20 over the embeddings table,
    operators/similarity.py::cosine_topk_batched) by
    RRF(d) = Σ_legs 1000000 div (60 + rank_leg(d)) — the integer-ppm form
    of 1/(60+r), exact in both engines, so fusion scores and the fused
    ranking are engine-bit-identical.  A doc ranked by only one leg gets
    that leg's contribution (standard RRF semantics).  Scale shape: each
    leg is its own verified operator (inverted-index semi-join /
    broadcast GEMM); the fusion is a union + groupBy on (query, doc) —
    one small shuffle of 2·k·|queries| rows regardless of corpus size.
    Output: top-5 fused (query_id, id, n_legs, rrf_ppm, rank)."""
    from .operators.search import bm25_topk
    from .operators.similarity import cosine_topk_batched

    documents, embeddings = _t(spark, sf_dir, "documents", "embeddings")
    queries_txt = literal_frame(
        spark, _BM25_QUERIES, "query_id string, query_text string"
    )
    anchors = literal_frame(spark, _HYBRID_ANCHORS, "query_id string, anchor_id long")
    lex = bm25_topk(documents, queries_txt, k=20).select(
        "query_id",
        F.col("doc_id").alias("id"),
        F.expr("1000000 div (60 + rank)").alias("contrib"),
    )
    corpus = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qvecs = corpus.join(
        F.broadcast(anchors), corpus["vec_id"] == anchors["anchor_id"]
    ).select(F.col("anchor_id").alias("query_id"), "embedding")
    den = (
        cosine_topk_batched(corpus, qvecs, k=20)
        .withColumnRenamed("query_id", "aid")
        .join(F.broadcast(anchors), F.col("aid") == F.col("anchor_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("id"),
            F.expr("1000000 div (60 + rank)").alias("contrib"),
        )
    )
    fused = (
        lex.unionByName(den)
        .groupBy("query_id", "id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_legs"),
            F.sum("contrib").alias("rrf_ppm"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_ppm").desc(), F.col("id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "id", "n_legs", "rrf_ppm", "rank")
    )


SQL_HYBRID_RANK_FUSION = """
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' '),
                     t -> t <> '') AS ts
  FROM documents
), tokens AS (
  SELECT id, len(ts) AS dl, unnest(ts) AS term FROM toks
), tf AS (
  SELECT id, dl, term, count(*) AS tf FROM tokens GROUP BY 1, 2, 3
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl
  FROM (SELECT DISTINCT id, dl FROM tf)
), qraw(query_id, query_text) AS (
  VALUES ('q1', 'spark join table'), ('q2', 'hash index scan'),
         ('q3', 'stream batch window'), ('q4', 'vector value cache')
), qterms AS (
  SELECT DISTINCT query_id,
         unnest(list_filter(
           string_split(lower(regexp_replace(trim(query_text), '\\s+', ' ', 'g')), ' '),
           t -> t <> '')) AS term
  FROM qraw
), dfreq AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN (SELECT term FROM qterms) GROUP BY 1
), lex_scored AS (
  SELECT q.query_id, tf.id,
         round(sum(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
         ), 6) AS score
  FROM tf JOIN qterms q USING (term) JOIN dfreq USING (term), stats
  GROUP BY 1, 2
), lex_ranked AS (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, id ASC) AS r
  FROM lex_scored
), anchors(query_id, anchor_id) AS (
  VALUES ('q1', 0), ('q2', 5), ('q3', 10), ('q4', 15)
), den_scored AS (
  SELECT a.query_id, c.vec_id AS id,
         round(
           list_sum(list_transform(list_zip(q.embedding, c.embedding),
                                   x -> x[1]::DOUBLE * x[2]::DOUBLE))
           / (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))),
           6) AS cosine_sim
  FROM anchors a
  JOIN embeddings q ON q.vec_id = a.anchor_id
  CROSS JOIN embeddings c
  WHERE c.vec_id <> a.anchor_id
), den_ranked AS (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, id ASC) AS r
  FROM den_scored
), legs AS (
  SELECT query_id, id, 1000000 // (60 + r) AS contrib
  FROM lex_ranked WHERE r <= 20
  UNION ALL
  SELECT query_id, id, 1000000 // (60 + r) AS contrib
  FROM den_ranked WHERE r <= 20
), fused AS (
  SELECT query_id, id,
         CAST(count(*) AS BIGINT) AS n_legs,
         CAST(sum(contrib) AS BIGINT) AS rrf_ppm
  FROM legs GROUP BY 1, 2
)
SELECT query_id, id, n_legs, rrf_ppm,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY rrf_ppm DESC, id ASC) AS rank
FROM fused
QUALIFY rank <= 5
"""


# ---------------------------------------------------------------------------
# BPE merge-pair counting (tokenizer-training surface)
# ---------------------------------------------------------------------------

def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first byte-pair-encoding training step over the corpus — the
    tokenizer-training member of the LLM-pipeline family: word frequencies
    (one fact-sized groupBy on the shared `text.tokenize`), each distinct
    word exploded to its adjacent character pairs, pair counts weighted by
    word frequency, top-20 merge candidates ranked with a total
    (count desc, pair asc) order.  This is exactly what a distributed BPE
    trainer iterates (Sennrich et al.): the scale win is that pair
    explosion runs over the DISTINCT-word frame (vocabulary-sized), never
    the corpus — the corpus is touched once for the frequency count.
    All-integer output; the DuckDB oracle replays the same tokenize →
    char-pair decomposition."""
    from .operators.text import tokenize

    (documents,) = _t(spark, sf_dir, "documents")
    words = documents.select(F.explode(tokenize(F.col("text"))).alias("w"))
    wc = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.length("w") >= 2)
    )
    pairs = wc.select(
        "n",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.struct(
                    F.col("w").substr(i, F.lit(1)).alias("a"),
                    F.col("w").substr(i + 1, F.lit(1)).alias("b"),
                ),
            )
        ).alias("p"),
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "n")
    agg = pairs.groupBy("a", "b").agg(F.sum("n").alias("pair_count"))
    w = Window.orderBy(
        F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select(
            F.col("a").alias("left_sym"),
            F.col("b").alias("right_sym"),
            "pair_count",
            "rank",
        )
    )


SQL_BPE_MERGE_PAIRS = """
WITH toks AS (
  SELECT unnest(list_filter(
           string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                        ' '), t -> t <> '')) AS w
  FROM documents
), wc AS (
  SELECT w, count(*) AS n FROM toks WHERE len(w) >= 2 GROUP BY w
), idx AS (
  SELECT w, n, unnest(generate_series(1, len(w) - 1)) AS i FROM wc
), agg AS (
  SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b,
         CAST(sum(n) AS BIGINT) AS pair_count
  FROM idx GROUP BY 1, 2
)
SELECT a AS left_sym, b AS right_sym, pair_count,
       row_number() OVER (ORDER BY pair_count DESC, a ASC, b ASC) AS rank
FROM agg
QUALIFY rank <= 20
"""


# ---------------------------------------------------------------------------
# SCD Type-2 dimension build (warehouse surface)
# ---------------------------------------------------------------------------

def q_scd2_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from an append-only changelog:
    per customer, collapse consecutive equal order-status runs (ordered by
    (o_orderdate, o_orderkey)) into validity intervals with a version number
    and an is_current flag (operators/reconcile.py::scd2_collapse).
    Restricted to custkey % 10 = 0 to bound driver-side output."""
    from .operators.reconcile import scd2_collapse

    (orders,) = _t(spark, sf_dir, "orders")
    ch = orders.filter(F.col("o_custkey") % 10 == 0).select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"
    )
    hist = scd2_collapse(
        ch, ["o_custkey"], "o_orderstatus", "o_orderdate", seq_cols=["o_orderkey"]
    )
    # NTZ on the way out: PySpark renders TimestampType through the OS
    # timezone at collect() (datetime.fromtimestamp), so a raw TIMESTAMP
    # column shifts on any non-UTC host while the DuckDB oracle stays
    # naive — caught by the TZ=America/New_York full sweep.  The cast is
    # wall-clock preserving under the session's pinned UTC.
    return hist.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("valid_from").cast("timestamp_ntz").alias("valid_from"),
        F.col("n_changes").alias("n_orders"),
        "version",
        F.col("valid_to").cast("timestamp_ntz").alias("valid_to"),
        "is_current",
    )


SQL_SCD2_STATUS_HISTORY = """
WITH ch AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
  FROM orders WHERE o_custkey % 10 = 0
), runs AS (
  SELECT o_custkey, o_orderstatus, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey)
         - row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                              ORDER BY o_orderdate, o_orderkey) AS grp
  FROM ch
), collapsed AS (
  SELECT o_custkey, o_orderstatus, grp,
         min(o_orderdate) AS valid_from, min(rn) AS seq, count(*) AS n_orders
  FROM runs GROUP BY 1, 2, 3
)
SELECT o_custkey AS custkey, o_orderstatus AS status, valid_from, n_orders,
       row_number() OVER (PARTITION BY o_custkey ORDER BY seq) AS version,
       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY seq)
         AS valid_to,
       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY seq)
         IS NULL AS is_current
FROM collapsed
"""


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy surface, alongside PII redaction)
# ---------------------------------------------------------------------------

def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit: equivalence classes over the quasi-identifier tuple
    (nation, market segment, account-balance band of width 1000) whose size
    is below k=5 — the rows a k-anonymity release would have to suppress or
    generalize.  Pure groupBy; at 100 TB this is one partial-agg shuffle on
    a 3-column key."""
    (customer,) = _t(spark, sf_dir, "customer")
    classes = customer.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("class_size"))
    return classes.filter(F.col("class_size") < 5)


SQL_K_ANONYMITY_AUDIT = """
SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
       count(*) AS class_size
FROM customer
GROUP BY 1, 2, 3
HAVING count(*) < 5
"""


def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit beside `k_anonymity_audit`: distinct-l-diversity.  A
    k-anonymous release still leaks when an equivalence class is sensitive-
    homogeneous (Machanavajjhala et al.), so per quasi-identifier class
    (nation, balance band) count the DISTINCT sensitive values (market
    segment) and report the classes below l = 3 — the ones a release must
    further generalize.  One partial-agg shuffle on the 2-column QI key
    (count + count-distinct share it); dimension-bounded output."""
    (customer,) = _t(spark, sf_dir, "customer")
    classes = customer.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct("c_mktsegment").cast("long").alias("n_sensitive"),
    )
    return classes.filter(F.col("n_sensitive") < 3)


SQL_L_DIVERSITY_AUDIT = """
SELECT c_nationkey AS nationkey,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
       count(*) AS class_size,
       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive
FROM customer
GROUP BY 1, 2
HAVING count(DISTINCT c_mktsegment) < 3
"""


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (data-mixing surface)
# ---------------------------------------------------------------------------

def q_weighted_sample_wor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis A-ES weighted sampling WITHOUT replacement: per
    language, the 5 documents minimizing key = -ln(u)/w with weight
    w = n_chars and u a deterministic md5-derived uniform (the engine's
    hash-based-randomness rule: stable under reshuffles and engine-portable,
    which rand() is not).  One window per group; ranks order by the rounded
    key so a last-ulp ln() divergence cannot flip a selection."""
    (documents,) = _t(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("double")
        + 0.5
    ) / 4294967296.0
    key = F.round(-F.log(u) / F.col("n_chars"), 12)
    # NULLS LAST explicitly: a zero/NULL weight gives key = NULL, and Spark
    # defaults NULLs FIRST on ASC while DuckDB defaults them LAST — an empty
    # doc would be sampled first here and never there (latent: driver data
    # has no empty docs, but parity must not depend on that)
    w = Window.partitionBy("lang").orderBy(
        F.col("key").asc_nulls_last(), F.col("doc_id").asc()
    )
    return (
        documents.select("lang", "doc_id", "n_chars", key.alias("key"))
        .withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= 5)
    )


SQL_WEIGHTED_SAMPLE_WOR = """
WITH keyed AS (
  SELECT lang, doc_id, n_chars,
         round(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    + 0.5) / 4294967296.0) / n_chars, 12) AS key
  FROM documents
)
SELECT lang, doc_id, n_chars, key,
       row_number() OVER (PARTITION BY lang
                          ORDER BY key ASC NULLS LAST, doc_id ASC) AS pick
FROM keyed
QUALIFY pick <= 5
"""


# ---------------------------------------------------------------------------
# Incremental view maintenance: partial-agg state merge (reconcile.py)
# ---------------------------------------------------------------------------

def q_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a per-user (count, sum) rollup under an incremental delta
    batch WITHOUT rescanning history (operators/reconcile.py::
    merge_agg_state): state built from the first half of the event log
    (event_id below the midpoint), delta from the second half, merged by a
    null-safe full-outer combine.  The oracle recomputes the rollup from
    the full log — maintained state must equal recompute exactly, which is
    why sums accumulate in DECIMAL (drift-free, engine-portable) and cast
    to double only at the edge."""
    from .operators.reconcile import merge_agg_state

    (events,) = _t(spark, sf_dir, "events")
    mid = events.agg(
        ((F.min("event_id") + F.max("event_id")) / 2).cast("long").alias("m")
    )
    ev = events.crossJoin(F.broadcast(mid)).select(
        "user_id",
        "value",
        (F.col("event_id") <= F.col("m")).alias("in_base"),
    )

    def rollup(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,10)")).alias("sum_value"),
        )

    base = rollup(ev.filter(F.col("in_base")))
    delta = rollup(ev.filter(~F.col("in_base")))
    merged = merge_agg_state(
        base, delta, ["user_id"], count_col="n_events", sum_cols=["sum_value"]
    )
    # No avg column: avg = sum/count is derivable, and a checked division
    # would reintroduce the exact-tie rounding divergence (Spark divides
    # DECIMAL exactly and rounds HALF_UP; DuckDB divides in DOUBLE and
    # rounds the binary value — 1.001/16 rounds to .062563 vs .062562).
    # The IVM contract is the maintained (count, sum) state itself.
    return merged.select(
        "user_id",
        "n_events",
        F.round(F.col("sum_value"), 2).cast("double").alias("sum_value"),
    )


SQL_INCREMENTAL_AGG_MAINTENANCE = """
WITH mid AS (
  SELECT CAST((min(event_id) + max(event_id)) / 2 AS BIGINT) AS m FROM events
)
SELECT user_id, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,10))), 2) AS DOUBLE)
         AS sum_value
FROM events, mid
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# CDC snapshot apply (reconcile.py::cdc_apply)
# ---------------------------------------------------------------------------

def q_cdc_snapshot_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply an ordered insert/update/delete change log to a snapshot with
    last-writer-wins semantics (operators/reconcile.py::cdc_apply).  The
    change log derives deterministically from orders (op by orderkey mod:
    0-1 → D, 2-3 → I, else U; payload = order total; sequence =
    (o_orderdate, o_orderkey)); the snapshot is the customer table's
    balance.  Restricted to custkey % 10 = 0 to bound output."""
    from .operators.reconcile import cdc_apply

    customer, orders = _t(spark, sf_dir, "customer", "orders")
    snap = customer.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("custkey"),
        F.round(F.col("c_acctbal"), 2).alias("val"),
    )
    changes = orders.filter(F.col("o_custkey") % 10 == 0).select(
        F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice"), 2).alias("val"),
        F.when(F.col("o_orderkey") % 10 <= 1, "D")
        .when(F.col("o_orderkey") % 10 <= 3, "I")
        .otherwise("U")
        .alias("op"),
        F.col("o_orderdate").alias("seq_ts"),
        F.col("o_orderkey").alias("seq_id"),
    )
    applied = cdc_apply(
        snap, changes, ["custkey"], ["seq_ts", "seq_id"], op_col="op"
    )
    return applied.select("custkey", "val")


SQL_CDC_SNAPSHOT_APPLY = """
WITH snap AS (
  SELECT c_custkey AS custkey, round(c_acctbal, 2) AS val,
         'I' AS op, 0 AS is_change,
         CAST(NULL AS TIMESTAMP) AS seq_ts, CAST(NULL AS BIGINT) AS seq_id
  FROM customer WHERE c_custkey % 10 = 0
), changes AS (
  SELECT o_custkey AS custkey, round(o_totalprice, 2) AS val,
         CASE WHEN o_orderkey % 10 <= 1 THEN 'D'
              WHEN o_orderkey % 10 <= 3 THEN 'I'
              ELSE 'U' END AS op,
         1 AS is_change, o_orderdate AS seq_ts, o_orderkey AS seq_id
  FROM orders WHERE o_custkey % 10 = 0
), unioned AS (
  SELECT * FROM snap UNION ALL SELECT * FROM changes
), latest AS (
  SELECT *, row_number() OVER (
    PARTITION BY custkey
    ORDER BY is_change DESC, seq_ts DESC, seq_id DESC) AS rk
  FROM unioned
)
SELECT custkey, val FROM latest WHERE rk = 1 AND op <> 'D'
"""


# ---------------------------------------------------------------------------
# Composed end-to-end curation pipeline (flagship composition)
# ---------------------------------------------------------------------------

def q_curation_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data curation flow as ONE declarative plan —
    quality gate → exact dedup (keep min id) → hash split → train-vs-test
    5-gram decontamination → per-(split, lang) release stats.  Every stage
    reuses an individually-oracle-checked operator (text.token_count/
    punct_ratio, dedup.normalize_text, the md5-bucket split rule, the
    decontamination shingle test), composed into one pipeline where only
    16-byte hashes ever shuffle.  Physical shape (r11): the filtered,
    fingerprint-deduped, split doc-level frame (with its shingle digests,
    never the text) is computed ONCE and persisted — the previous fully
    lazy form re-derived the documents scan ~6x (dedup join-back, two
    shingle branches, final join); dedup is a window row_number, and the
    train-vs-test shingle test is one max-over-shingle-window exchange
    instead of distinct+join.  At 100 TB the persisted frame is
    hash-digest-sized; prefer writing it bucketed once per release if
    executors are memory-tight.
    """
    from .operators import text as text_ops
    from .operators.dedup import normalize_text

    (documents,) = _t(spark, sf_dir, "documents")
    kept = documents.filter(
        (text_ops.token_count(F.col("text")) >= 20)
        & (text_ops.punct_ratio(F.col("text")) <= 0.2)
    )
    with_fp = kept.select(
        "doc_id", "lang", "n_chars", "text",
        F.md5(normalize_text(F.col("text"))).alias("fp"),
    )
    # Window dedup instead of groupBy(min)+join-back (r11): identical
    # keep-min-doc_id semantics (doc_id is unique), ONE derivation of the
    # filtered+fingerprinted scan instead of two, one exchange instead of
    # agg + join (guide §2.4).
    w_fp = Window.partitionBy("fp").orderBy(F.col("doc_id").asc())
    deduped = (
        with_fp.withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 100
    )
    words = F.split(F.col("text"), " ")
    # Barrier: sp is read by the shingle-window branch and by the
    # anti-join, which share no exchange, so the lazy plan runs the
    # quality filter + md5 fingerprint + dedup window twice (A/B: lazy
    # 4.0×).  Cached rows hold 16-byte binary shingle digests
    # (collision-identical to the md5 hex the comparison is defined on),
    # never the text column.
    sp = deduped.select(
        "doc_id",
        "lang",
        "n_chars",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "valid")
        .otherwise("test")
        .alias("split"),
        F.when(
            F.size(words) >= 5,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - 4),
                lambda i: F.unhex(
                    F.md5(F.concat_ws(" ", F.slice(words, i, 5)))
                ),
            ),
        )
        .otherwise(F.array().cast("array<binary>"))
        .alias("shs"),
    ).persist()

    sh = sp.select("doc_id", "split", F.explode("shs").alias("sh"))
    # Contamination via ONE shingle-keyed exchange: a train doc is
    # contaminated iff any of its shingles also appears in a test doc —
    # max(is-test) over the shingle's window replaces the
    # distinct-test-set + join branch (which re-derived the shingle
    # explode a second time).
    w_sh = Window.partitionBy("sh")
    contaminated = (
        sh.withColumn(
            "_has_test",
            F.max((F.col("split") == "test").cast("int")).over(w_sh),
        )
        .filter((F.col("split") == "train") & (F.col("_has_test") == 1))
        .select("doc_id")
        .distinct()
    )
    final = sp.join(contaminated, "doc_id", "left_anti")
    out = final.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return materialize_and_release(out, sp)


SQL_CURATION_PIPELINE_STATS = """
WITH kept AS (
  SELECT doc_id, lang, n_chars, text FROM documents
  WHERE (CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END) >= 20
    AND (CASE WHEN length(text) = 0 THEN 0.0
         ELSE length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g'))
              * 1.0 / length(text) END) <= 0.2
), fpd AS (
  SELECT *, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM kept
), deduped AS (
  SELECT * FROM fpd
  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
), sp AS (
  SELECT doc_id, lang, n_chars, text,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 < 80 THEN 'train'
              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM deduped
), sh AS (
  SELECT doc_id, split,
         md5(array_to_string(list_slice(words, i, i + 4), ' ')) AS sh
  FROM (
    SELECT doc_id, split, string_split(text, ' ') AS words,
           unnest(generate_series(1, len(string_split(text, ' ')) - 4)) AS i
    FROM sp
    WHERE len(string_split(text, ' ')) >= 5
  )
), contaminated AS (
  SELECT DISTINCT a.doc_id FROM sh a
  WHERE a.split = 'train'
    AND a.sh IN (SELECT sh FROM sh WHERE split = 'test')
), final AS (
  SELECT * FROM sp WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM final GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Streaming CDC ingestion parity (streaming/cdc.py)
# ---------------------------------------------------------------------------

def q_streaming_cdc_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC change log consumed as a REAL multi-micro-batch readStream
    (maxFilesPerTrigger=1 over a several-file source) and foreachBatch-
    merged into a versioned parquet state with tombstoned deletes
    (streaming/cdc.py) — then hash-checked against the same one-shot SQL
    oracle as the batch `cdc_snapshot_apply`.  The merge is an associative-
    commutative max-sequence monoid, so the file-listing batch order (which
    Spark does not guarantee) provably cannot change the result — that
    order-independence is exactly what makes the parity check meaningful
    rather than lucky."""
    import shutil
    import tempfile

    from .streaming.cdc import cdc_publish, cdc_stream_into_dir, current_state

    customer, orders = _t(spark, sf_dir, "customer", "orders")
    snap = customer.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("custkey"),
        F.round(F.col("c_acctbal"), 2).alias("val"),
    )
    changes = orders.filter(F.col("o_custkey") % 10 == 0).select(
        F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice"), 2).alias("val"),
        F.when(F.col("o_orderkey") % 10 <= 1, "D")
        .when(F.col("o_orderkey") % 10 <= 3, "I")
        .otherwise("U")
        .alias("op"),
        F.col("o_orderdate").alias("seq_ts"),
        F.col("o_orderkey").alias("seq_id"),
    )
    base = tempfile.mkdtemp(prefix="wdp_cdc_")
    try:
        src = base + "/changes"
        changes.repartition(4).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = cdc_stream_into_dir(
            stream, snap, ["custkey"], ["seq_ts", "seq_id"], base + "/state"
        )
        q.awaitTermination()
        rows = cdc_publish(
            current_state(spark, base + "/state"),
            seq_cols=["seq_ts", "seq_id"],
        ).collect()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return literal_frame(spark, rows, "custkey long, val double")


# ---------------------------------------------------------------------------
# Point-in-time (temporal validity) join over the SCD2 history
# ---------------------------------------------------------------------------

def q_pit_customer_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup (operators/joins.py::validity_join): each
    lineitem ship event finds the customer-status version valid at its ship
    date in the SCD2 history built by scd2_collapse — the classic
    "fact joins the dimension AS OF event time" warehouse query, expressed
    as the single-shuffle as-of kernel instead of a range-condition join.
    Ship dates trail order dates, so matches genuinely cross version
    boundaries; ships before a customer's first status version land in the
    NULL bucket (left-join semantics).  Rolled up per status."""
    from .operators.joins import validity_join
    from .operators.reconcile import scd2_collapse

    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    sub = orders.filter(F.col("o_custkey") % 10 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    )
    hist = scd2_collapse(
        sub, ["o_custkey"], "o_orderstatus", "o_orderdate", seq_cols=["o_orderkey"]
    )
    facts = lineitem.join(
        sub.select("o_orderkey", "o_custkey"),
        lineitem.l_orderkey == F.col("o_orderkey"),
    ).select("o_custkey", "l_shipdate", "l_quantity")
    pit = validity_join(
        facts,
        hist.select("o_custkey", "o_orderstatus", "valid_from", "valid_to"),
        "o_custkey",
        "l_shipdate",
        ["o_orderstatus"],
    )
    return pit.groupBy(F.col("o_orderstatus").alias("status_at_ship")).agg(
        F.count(F.lit(1)).alias("n_ship_events"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(28,10)")), 2)
        .cast("double")
        .alias("total_qty"),
    )


SQL_PIT_CUSTOMER_STATUS = """
WITH sub AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate
  FROM orders WHERE o_custkey % 10 = 0
), runs AS (
  SELECT o_custkey, o_orderstatus, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey)
         - row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                              ORDER BY o_orderdate, o_orderkey) AS grp
  FROM sub
), collapsed AS (
  SELECT o_custkey, o_orderstatus, grp,
         min(o_orderdate) AS valid_from, min(rn) AS seq
  FROM runs GROUP BY 1, 2, 3
), hist AS (
  SELECT o_custkey, o_orderstatus, valid_from,
         lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY seq)
           AS valid_to
  FROM collapsed
), facts AS (
  SELECT s.o_custkey, l.l_shipdate, l.l_quantity
  FROM lineitem l JOIN sub s ON l.l_orderkey = s.o_orderkey
), pit AS (
  SELECT f.o_custkey, f.l_quantity, h.o_orderstatus
  FROM facts f
  LEFT JOIN hist h
    ON f.o_custkey = h.o_custkey
   AND f.l_shipdate >= h.valid_from
   AND (h.valid_to IS NULL OR f.l_shipdate < h.valid_to)
)
SELECT o_orderstatus AS status_at_ship,
       count(*) AS n_ship_events,
       count(DISTINCT o_custkey) AS n_customers,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(28,10))), 2) AS DOUBLE)
         AS total_qty
FROM pit GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Last-touch attribution (marketing-funnel surface over the as-of kernel)
# ---------------------------------------------------------------------------

def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the user's most
    recent non-purchase touch (click/view/signup) at-or-before it, but only
    within a 24 h lookback — outside it (or with no touch at all) the
    purchase is 'direct'.  One as-of backward join (single-shuffle
    union+window kernel) + a lookback guard + a channel rollup; the oracle
    is DuckDB's native ASOF JOIN, so this also pins our kernel's tie
    semantics against a second independent implementation."""
    (events,) = _t(spark, sf_dir, "events")
    from .operators import joins as join_ops

    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("revenue"),
    )
    # Two touches at one (user, ts) would make the as-of pick (and DuckDB
    # ASOF's) arbitrary — unlike earlier as-of queries that carry only the
    # timestamp, the carried value here (touch_type) differs between tied
    # rows.  Collapse ties first with a deterministic winner (max
    # event_id), mirrored in the oracle, so neither engine ever chooses.
    touches = (
        events.filter(F.col("event_type").isin("click", "view", "signup"))
        .groupBy("user_id", F.col("ts").alias("touch_ts"))
        .agg(F.max_by("event_type", "event_id").alias("touch_type"))
    )
    a = join_ops.asof_join(
        purchases,
        touches,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="touch_ts",
        value_cols=["touch_ts", "touch_type"],
        direction="backward",
    )
    within = (
        F.col("touch_type").isNotNull()
        & (
            F.unix_micros("purchase_ts") - F.unix_micros("touch_ts")
            <= 86_400_000_000
        )
    )
    channel = F.when(within, F.col("touch_type")).otherwise("direct")
    return a.select(channel.alias("channel"), "revenue").groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(F.sum(F.col("revenue").cast("decimal(28,10)")), 2)
        .cast("double")
        .alias("total_revenue"),
    )


SQL_LAST_TOUCH_ATTRIBUTION = """
WITH p AS (
  SELECT user_id, ts AS purchase_ts, value AS revenue
  FROM events WHERE event_type = 'purchase'
), t AS (
  SELECT user_id, ts AS touch_ts, max_by(event_type, event_id) AS touch_type
  FROM events WHERE event_type IN ('click', 'view', 'signup')
  GROUP BY user_id, ts
), a AS (
  SELECT p.purchase_ts, p.revenue, t.touch_ts, t.touch_type
  FROM p ASOF LEFT JOIN t
    ON p.user_id = t.user_id AND t.touch_ts <= p.purchase_ts
)
SELECT CASE WHEN touch_type IS NOT NULL
             AND epoch_us(purchase_ts) - epoch_us(touch_ts) <= 86400000000
            THEN touch_type ELSE 'direct' END AS channel,
       count(*) AS n_purchases,
       CAST(round(sum(CAST(revenue AS DECIMAL(28,10))), 2) AS DOUBLE)
         AS total_revenue
FROM a GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Corpus-LM perplexity bucketing (CCNet-style head/middle/tail)
# ---------------------------------------------------------------------------

def q_unigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    document under a corpus-trained unigram LM
    (operators/text.py::unigram_lm_scores), then split the corpus into
    head/middle/tail perplexity tertiles by exact percentile BOUNDARIES —
    the `customer_value_deciles` pattern (VERDICT r5 item 3): one 2-value
    percentile aggregate over the ROUNDED per-doc score, broadcast back,
    bucket = 1 + #boundaries strictly below the score.  Deliberately NOT
    ntile: a global-order window funnels every per-doc row through ONE
    WindowExec partition — a driver-adjacent bottleneck at 100 TB —
    while the boundary form is one combiner-friendly aggregate plus an
    embarrassingly parallel map.  Docs tied exactly AT a boundary share
    the lower bucket (so tertile sizes are n/3 only up to boundary ties —
    the semantics any threshold-binned curriculum actually wants).  Spark
    `percentile` and DuckDB `quantile_cont` interpolate bit-identically
    over the same doubles, and the score itself is round(…, 6)-pinned, so
    band edges agree exactly across engines.  Scale: the scorer shuffles
    only (doc, term) pairs; nothing global-sorts."""
    from .operators.text import unigram_lm_scores

    (documents,) = _t(spark, sf_dir, "documents")
    # The scorer pipeline ((doc,term) shuffle + join) is the heaviest stage
    # and feeds BOTH the bounds aggregate and the output projection —
    # checkpoint it so it runs once, not twice (ADVICE r6: the r6 plan
    # fingerprint showed the exchange count doubling).  The checkpointed
    # frame is the small per-doc (id, n_tokens, bits_per_token) triple, not
    # the corpus.
    scored = unigram_lm_scores(documents).localCheckpoint(eager=True)
    bounds = scored.agg(
        F.expr(
            "percentile(bits_per_token,"
            " array(0.3333333333333333, 0.6666666666666666))"
        ).alias("bs")
    )
    bucket = F.size(F.filter("bs", lambda b: F.col("bits_per_token") > b)) + 1
    return scored.crossJoin(F.broadcast(bounds)).select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        "bits_per_token",
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), bucket
        ).alias("ppl_bucket"),
    )


SQL_UNIGRAM_LM_PERPLEXITY = """
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' '),
                     t -> t <> '') AS ts
  FROM documents
), tokens AS (
  SELECT id, unnest(ts) AS term FROM toks
), dt AS (
  SELECT id, term, count(*) AS c FROM tokens GROUP BY 1, 2
), freq AS (
  SELECT term, CAST(sum(c) AS BIGINT) AS cc FROM dt GROUP BY 1
), tot AS (
  SELECT CAST(sum(cc) AS BIGINT) AS t FROM freq
), scored AS (
  SELECT dt.id,
         sum(CAST(dt.c * (-log2(freq.cc / (SELECT t FROM tot)))
                  AS DECIMAL(28,12))) AS bits,
         CAST(sum(dt.c) AS BIGINT) AS n_tokens
  FROM dt JOIN freq USING (term)
  GROUP BY dt.id
), pertok AS (
  SELECT id, n_tokens,
         round(CAST(bits AS DOUBLE) / n_tokens, 6) AS bits_per_token
  FROM scored
), bounds AS (
  SELECT quantile_cont(bits_per_token,
                       [0.3333333333333333, 0.6666666666666666]) AS bs
  FROM pertok
)
SELECT id AS doc_id, n_tokens, bits_per_token,
       ['head', 'middle', 'tail'][
         len(list_filter(bs, b -> bits_per_token > b)) + 1] AS ppl_bucket
FROM pertok, bounds
"""


# ---------------------------------------------------------------------------
# DSIR importance weights (hashed-unigram target/raw log-ratio)
# ---------------------------------------------------------------------------

def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023) log importance weights with English docs as
    the target domain (operators/text.py::dsir_logweights): hashed-unigram
    bag features into 256 buckets, Laplace-smoothed target/raw bucket
    probabilities, per-doc log2 ratio summed as DECIMAL.  The md5 bucket
    hash is restated verbatim in the oracle.  Composition: feed
    `log2_weight` into `weighted_sample_wor` to materialize the resampled
    corpus."""
    from .operators.text import dsir_logweights

    (documents,) = _t(spark, sf_dir, "documents")
    return dsir_logweights(
        documents, target_pred=F.col("lang") == "en", n_buckets=256
    ).select(F.col("id").alias("doc_id"), "n_tokens", "log2_weight")


SQL_DSIR_IMPORTANCE_WEIGHTS = """
WITH toks AS (
  SELECT doc_id AS id, lang = 'en' AS is_target,
         list_filter(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' '),
                     t -> t <> '') AS ts
  FROM documents
), tokens AS (
  SELECT id, is_target,
         ('0x' || substr(md5(unnest(ts)), 1, 8))::BIGINT % 256 AS b
  FROM toks
), buckets AS (
  SELECT b, count(*) AS cr,
         CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct
  FROM tokens GROUP BY b
), sums AS (
  SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt
  FROM buckets
), ratio AS (
  SELECT b, log2((ct + 1) / (nt + 256)) - log2((cr + 1) / (nr + 256)) AS lr
  FROM buckets, sums
), dc AS (
  SELECT id, b, count(*) AS c FROM tokens GROUP BY id, b
)
SELECT dc.id AS doc_id,
       CAST(sum(dc.c) AS BIGINT) AS n_tokens,
       round(CAST(sum(CAST(dc.c * ratio.lr AS DECIMAL(28,12))) AS DOUBLE), 6)
         AS log2_weight
FROM dc JOIN ratio USING (b)
GROUP BY dc.id
"""


# ---------------------------------------------------------------------------
# Stream-stream interval join (watermarked, two-batch parity run)
# ---------------------------------------------------------------------------

def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join executed as a REAL two-batch Structured
    Streaming run (streaming/monitor.py::interval_join_streams): purchases
    and views stream from separate time-split parquet sources, pair when
    the view falls within the hour before the purchase, and the join
    output appends through a checkpointed parquet sink across TWO
    availableNow runs — so pairs whose view arrived a run earlier than
    the purchase must come out of the buffered join state, the piece a
    single-batch run would not exercise.  The per-hour rollup of the sink
    hash-checks against the DuckDB batch interval join: Spark's
    stream-stream join contract (results = batch join when disorder stays
    within the watermark) stated as an oracle equality.  Scale: state is
    bounded by the 1 h lookback + 2 h watermark per side — the join never
    buffers the stream's history."""
    import os
    import shutil
    import tempfile
    import uuid

    from .streaming.monitor import interval_join_streams

    (events,) = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").cast("timestamp").alias("p_ts"), "value"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").cast("timestamp").alias("v_ts")
    )
    lo, hi = events.agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))),
    ).collect()[0]
    mid = F.timestamp_micros(F.lit((int(lo) + int(hi)) // 2))

    base = tempfile.mkdtemp(prefix="stream_ij_")
    psrc = os.path.join(base, "p")
    vsrc = os.path.join(base, "v")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    try:
        purchases.filter(F.col("p_ts") <= mid).write.parquet(psrc)
        views.filter(F.col("v_ts") <= mid).write.parquet(vsrc)

        def run_batch():
            p_stream = spark.readStream.schema(
                "user_id long, p_ts timestamp, value double"
            ).parquet(psrc)
            v_stream = spark.readStream.schema(
                "user_id long, v_ts timestamp"
            ).parquet(vsrc)
            joined = interval_join_streams(
                p_stream,
                v_stream,
                on="user_id",
                left_ts="p_ts",
                right_ts="v_ts",
                lookback="1 hour",
                watermark="2 hours",
            )
            q = (
                joined.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_batch()
        purchases.filter(F.col("p_ts") > mid).write.mode("append").parquet(psrc)
        views.filter(F.col("v_ts") > mid).write.mode("append").parquet(vsrc)
        run_batch()

        rolled = (
            spark.read.parquet(out)
            .groupBy(
                F.date_format(
                    F.window(F.col("p_ts"), "1 hour")["start"],
                    "yyyy-MM-dd HH",
                ).alias("hour_start")
            )
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.round(
                    F.sum(F.col("value").cast("decimal(28,10)")).cast(
                        "double"
                    ),
                    4,
                ).alias("paired_revenue"),
            )
        )
        rows = rolled.collect()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return literal_frame(
        spark, rows, "hour_start string, n_pairs long, paired_revenue double"
    )


# ---------------------------------------------------------------------------
# DataSketches theta sketches: distinct-set algebra with error contracts
# ---------------------------------------------------------------------------

def q_theta_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user set algebra via Apache DataSketches theta sketches
    (Spark 4 `theta_sketch_agg` / `theta_union` / `theta_intersection`):
    one pass builds a purchase-user sketch and a click-user sketch in the
    SAME aggregate; union and intersection cardinalities come from sketch
    algebra, no second scan and no key shuffle.  This is what HLL cannot
    do — HLL unions but never intersects; theta's set algebra is the
    100 TB audience-overlap path (fixed ~32 KB state per sketch vs a
    distinct shuffle of every user).  Contract: all four estimates within
    5% of exact (theta k=4096 ⇒ rse ≈ 1.6%, so 5% ≈ 3σ; intersection
    error scales with union size — this corpus' overlap is large, well
    inside the bound).  Oracle recomputes the exact values; the booleans
    pin the sketches."""
    (events,) = _t(spark, sf_dir, "events")
    pu = F.when(F.col("event_type") == "purchase", F.col("user_id"))
    cu = F.when(F.col("event_type") == "click", F.col("user_id"))
    agg = events.agg(
        F.theta_sketch_agg(pu).alias("sp"),
        F.theta_sketch_agg(cu).alias("sc"),
        F.count_distinct(pu).alias("exact_purchase"),
        F.count_distinct(cu).alias("exact_click"),
    )
    est = agg.select(
        "exact_purchase",
        "exact_click",
        F.theta_sketch_estimate(F.col("sp")).alias("ep"),
        F.theta_sketch_estimate(F.col("sc")).alias("ec"),
        F.theta_sketch_estimate(F.theta_union(F.col("sp"), F.col("sc"))).alias("eu"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("sp"), F.col("sc"))
        ).alias("ei"),
    )
    exact_union = (
        events.filter(F.col("event_type").isin("purchase", "click"))
        .agg(F.count_distinct("user_id").alias("exact_union"))
    )
    both = (
        events.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("user_id")
        .agg(F.count_distinct("event_type").alias("nt"))
        .filter(F.col("nt") == 2)
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )

    def ok(est_col, exact_col):
        return (
            F.abs(est_col - F.col(exact_col)) / F.col(exact_col) <= 0.05
        )

    return (
        est.crossJoin(F.broadcast(exact_union))
        .crossJoin(F.broadcast(both))
        .select(
            "exact_purchase",
            "exact_click",
            "exact_union",
            "exact_overlap",
            ok(F.col("ep"), "exact_purchase").alias("purchase_ok"),
            ok(F.col("ec"), "exact_click").alias("click_ok"),
            ok(F.col("eu"), "exact_union").alias("union_ok"),
            ok(F.col("ei"), "exact_overlap").alias("overlap_ok"),
        )
    )


SQL_THETA_SKETCH_OVERLAP = """
WITH pc AS (
  SELECT user_id, event_type FROM events
  WHERE event_type IN ('purchase', 'click')
)
SELECT
  (SELECT count(DISTINCT user_id) FROM pc WHERE event_type = 'purchase')
    AS exact_purchase,
  (SELECT count(DISTINCT user_id) FROM pc WHERE event_type = 'click')
    AS exact_click,
  (SELECT count(DISTINCT user_id) FROM pc) AS exact_union,
  (SELECT count(*) FROM (
     SELECT user_id FROM pc GROUP BY user_id
     HAVING count(DISTINCT event_type) = 2
   )) AS exact_overlap,
  true AS purchase_ok, true AS click_ok, true AS union_ok, true AS overlap_ok
"""


def q_hll_rollup_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregable distinct sketches (Spark 4 `hll_sketch_agg` /
    `hll_union_agg`): build one HLL sketch of users PER DAY, then roll the
    daily sketches up to a global distinct estimate WITHOUT touching the
    events again — the materialized-sketch pattern that answers any date
    range at 100 TB from kilobyte-sized daily aggregates (precompute
    sketches with the daily partition write; range queries merge sketches,
    never rescan).  Differs from `approx_distinct_contract` (one-shot
    approx_count_distinct): here the sketch is a first-class VALUE that
    survives a shuffle and a second aggregation level.  Contract: the
    merged estimate lands within 5% of exact (lgConfigK=14 ⇒ rse ≈ 0.8%,
    5% ≈ 6σ) and per-day estimates within 5% too (emitted as a count of
    in-bound days so the output stays 1 row)."""
    (events,) = _t(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    daily = events.select(day, "user_id").groupBy("day").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.count_distinct("user_id").alias("exact_day"),
    )
    rolled = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_total"),
        F.sum(
            F.when(
                F.abs(F.hll_sketch_estimate("sk") - F.col("exact_day"))
                / F.col("exact_day")
                <= 0.05,
                1,
            ).otherwise(0)
        ).alias("days_in_bound"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = events.agg(F.count_distinct("user_id").alias("exact_total"))
    return rolled.crossJoin(F.broadcast(exact)).select(
        "exact_total",
        "n_days",
        "days_in_bound",
        (
            F.abs(F.col("est_total") - F.col("exact_total"))
            / F.col("exact_total")
            <= 0.05
        ).alias("total_ok"),
    )


SQL_HLL_ROLLUP_CONTRACT = """
SELECT
  (SELECT count(DISTINCT user_id) FROM events) AS exact_total,
  (SELECT count(DISTINCT CAST(ts AS DATE)) FROM events) AS n_days,
  (SELECT count(DISTINCT CAST(ts AS DATE)) FROM events) AS days_in_bound,
  true AS total_ok
"""


def q_bitmap_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via roaring-style bitmap aggregation (Spark
    4 `bitmap_construct_agg`): user ids bucket into 32k-bit bitmaps
    (`bitmap_bucket_number`/`bitmap_bit_position`), one bitmap per
    (event_type, bucket), `bitmap_count` sums per type.  For dense integer
    keys this replaces the count_distinct shuffle of every key occurrence
    with a shuffle of fixed-size bitmaps — the exact-distinct analog of
    the sketch path, and mergeable across partitions/days (bitmap_or_agg
    rolls daily bitmaps into monthly distinct counts for free).  Oracle is
    the plain exact distinct — bitmaps must agree bit-for-bit."""
    (events,) = _t(spark, sf_dir, "events")
    b = events.select(
        "event_type",
        F.bitmap_bucket_number(F.col("user_id")).alias("bucket"),
        F.bitmap_bit_position(F.col("user_id")).alias("pos"),
    )
    per_bucket = b.groupBy("event_type", "bucket").agg(
        F.bitmap_construct_agg(F.col("pos")).alias("bm")
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count(F.col("bm"))).alias("n_distinct_users")
    )


SQL_BITMAP_DISTINCT_COUNTS = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users
FROM events
GROUP BY event_type
"""


def q_nation_vip_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation via SQL:2016 LISTAGG ... WITHIN GROUP
    (Spark 4 native): the names of each nation's high-balance customers as
    one deterministic comma-joined string — the export/report surface
    (reference CSV manifests concatenate member lists the same way).
    WITHIN GROUP ordering (name, then custkey) makes the string total-order
    deterministic; DuckDB restates it as string_agg(... ORDER BY).  Scale:
    listagg is a one-shuffle groupBy; the high-balance filter bounds the
    string length — an UNfiltered listagg over millions of rows per group
    is an anti-pattern (unbounded row size), which is why the filter is
    part of the query shape."""
    _t(spark, sf_dir, "customer", "nation")
    return spark.sql("""
        SELECT n.n_name AS nation,
               count(*) AS n_vips,
               listagg(c.c_name, ',') WITHIN GROUP (ORDER BY c.c_name, c.c_custkey)
                 AS vip_names
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_acctbal > 9900
        GROUP BY n.n_name
    """)


SQL_NATION_VIP_LISTAGG = """
SELECT n.n_name AS nation,
       count(*) AS n_vips,
       string_agg(c.c_name, ',' ORDER BY c.c_name, c.c_custkey) AS vip_names
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_acctbal > 9900
GROUP BY n.n_name
"""


# ---------------------------------------------------------------------------
# Data-quality constraint suite (Deequ/dbt-test shape, one-pass)
# ---------------------------------------------------------------------------

def q_dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/quality.py): seven
    constraints over orders — uniqueness, non-null, domain, range, a
    business predicate, and referential integrity against customer —
    compiled into one conditional-aggregate scan + one groupBy + one
    broadcast anti-join, reporting violation COUNTS per constraint (a
    publish gate thresholds damage, not just booleans).  This is the
    check-before-pointer-move step in front of merge_upsert_parquet.
    The corpus is clean, so counts are 0 and passed is true — the oracle
    recomputes every count from scratch, pinning both the zero and the
    constraint semantics."""
    from .operators import quality as Q

    customer, orders = _t(spark, sf_dir, "customer", "orders")
    report = Q.check_constraints(
        orders,
        [
            Q.unique(["o_orderkey"]),
            Q.not_null("o_custkey"),
            Q.in_set("o_orderstatus", ["F", "O", "P"]),
            Q.in_range("o_totalprice", 0.0, 1e7),
            Q.satisfies(
                "orderdate_in_epoch",
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("date"))
                | (F.col("o_orderdate") > F.lit("1998-12-31").cast("date")),
            ),
            Q.not_null("o_orderdate"),
            Q.foreign_key(["o_custkey"], customer, ["c_custkey"]),
        ],
    )
    return report


SQL_DQ_CONSTRAINT_REPORT = """
WITH agg AS (
  SELECT
    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_cust,
    CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                   AND o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) AS dom,
    CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                   AND (o_totalprice < 0.0 OR o_totalprice > 10000000.0)
              THEN 1 ELSE 0 END) AS BIGINT) AS rng,
    CAST(sum(CASE WHEN o_orderdate < DATE '1992-01-01'
                   OR o_orderdate > DATE '1998-12-31' THEN 1 ELSE 0 END) AS BIGINT) AS epoch,
    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_date
  FROM orders
), uq AS (
  SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS v FROM (
    SELECT count(*) AS n FROM orders GROUP BY o_orderkey HAVING count(*) > 1
  )
), fk AS (
  SELECT CAST(count(*) AS BIGINT) AS v
  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON o.o_custkey = c.c_custkey
  WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
)
SELECT check_name, n_violations, n_violations = 0 AS passed FROM (
  SELECT 'unique(o_orderkey)' AS check_name, (SELECT v FROM uq) AS n_violations
  UNION ALL SELECT 'not_null(o_custkey)', (SELECT nn_cust FROM agg)
  UNION ALL SELECT 'in_set(o_orderstatus)', (SELECT dom FROM agg)
  UNION ALL SELECT 'in_range(o_totalprice)', (SELECT rng FROM agg)
  UNION ALL SELECT 'orderdate_in_epoch', (SELECT epoch FROM agg)
  UNION ALL SELECT 'not_null(o_orderdate)', (SELECT nn_date FROM agg)
  UNION ALL SELECT 'foreign_key(o_custkey)', (SELECT v FROM fk)
)
"""


# ---------------------------------------------------------------------------
# Version-diff CDC (Change Data Feed analog over the versioned MERGE table)
# ---------------------------------------------------------------------------

def q_version_diff_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed over the persistent versioned MERGE table: two
    chained merges leave `_v` version directories behind the `_CURRENT`
    pointer (reconcile.py::merge_upsert_parquet, GC keeps live+previous);
    `snapshot_changes` diffs the VERSION-AS-OF reads into an I/U/D
    changelog — Delta's `table_changes()` re-expressed over the engine's
    own table format.  The roundtrip law `cdc_apply(v_old, changes) ==
    v_new` is asserted IN the query (emitted as a boolean the oracle pins
    to true), so the changelog is verified to compose back, then the log
    is summarized per op.  Scale: the diff is one full-outer join on the
    table key; output is delta-sized."""
    import shutil
    import tempfile

    from .operators.reconcile import (
        cdc_apply,
        merge_upsert_parquet,
        read_parquet_table,
        snapshot_changes,
        table_versions,
    )

    customer, orders = _t(spark, sf_dir, "customer", "orders")
    base = customer.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    dec_price = F.col("o_totalprice").cast("decimal(18,2)")
    src1 = (
        orders.filter(F.col("o_custkey") % 2 == 0)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.sum(dec_price).cast("double").alias("c_acctbal"))
        .withColumn("c_mktsegment", F.lit("MERGED1"))
    )
    src2 = (
        orders.filter(F.col("o_custkey") % 5 == 0)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.max(dec_price).cast("double").alias("c_acctbal"))
        .withColumn("c_mktsegment", F.lit("MERGED2"))
    )
    tmp = tempfile.mkdtemp(prefix="version_diff_")
    try:
        path = f"{tmp}/tbl"
        base.write.parquet(path)
        merge_upsert_parquet(
            spark, path, src1, ["c_custkey"],
            update_cols=["c_acctbal", "c_mktsegment"],
        )
        merge_upsert_parquet(
            spark, path, src2, ["c_custkey"],
            update_cols=["c_acctbal", "c_mktsegment"],
        )
        v_old, v_new = table_versions(path)[-2:]
        old_df = read_parquet_table(spark, path, version=v_old)
        new_df = read_parquet_table(spark, path, version=v_new)
        changes = snapshot_changes(old_df, new_df, ["c_custkey"])
        replayed = cdc_apply(
            old_df, changes.withColumn("seq", F.lit(1)), ["c_custkey"], ["seq"]
        )
        roundtrip_ok = (
            replayed.select("c_custkey", "c_mktsegment", "c_acctbal")
            .exceptAll(new_df.select("c_custkey", "c_mktsegment", "c_acctbal"))
            .unionAll(
                new_df.select("c_custkey", "c_mktsegment", "c_acctbal")
                .exceptAll(
                    replayed.select("c_custkey", "c_mktsegment", "c_acctbal")
                )
            )
            .limit(1)
            .count()
            == 0
        )
        rows = (
            changes.groupBy("op")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(
                    F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                    .cast("double"),
                    2,
                ).alias("bal_sum"),
            )
            .withColumn("roundtrip_ok", F.lit(bool(roundtrip_ok)))
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return literal_frame(
        spark, rows, "op string, n_rows long, bal_sum double, roundtrip_ok boolean"
    )


SQL_VERSION_DIFF_CHANGES = """
WITH base AS (
  SELECT c_custkey, c_mktsegment, c_acctbal
  FROM customer WHERE c_custkey % 3 = 0
), s1 AS (
  SELECT o_custkey AS c_custkey,
         CAST('MERGED1' AS VARCHAR) AS c_mktsegment,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS c_acctbal
  FROM orders WHERE o_custkey % 2 = 0 GROUP BY o_custkey
), m1 AS (
  SELECT coalesce(b.c_custkey, s.c_custkey) AS c_custkey,
         coalesce(s.c_mktsegment, b.c_mktsegment) AS c_mktsegment,
         coalesce(s.c_acctbal, b.c_acctbal) AS c_acctbal
  FROM base b FULL OUTER JOIN s1 s ON s.c_custkey = b.c_custkey
), s2 AS (
  SELECT o_custkey AS c_custkey,
         CAST('MERGED2' AS VARCHAR) AS c_mktsegment,
         CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS c_acctbal
  FROM orders WHERE o_custkey % 5 = 0 GROUP BY o_custkey
), m2 AS (
  SELECT coalesce(m.c_custkey, s.c_custkey) AS c_custkey,
         coalesce(s.c_mktsegment, m.c_mktsegment) AS c_mktsegment,
         coalesce(s.c_acctbal, m.c_acctbal) AS c_acctbal
  FROM m1 m FULL OUTER JOIN s2 s ON s.c_custkey = m.c_custkey
), diff AS (
  SELECT CASE WHEN o.c_custkey IS NULL THEN 'I'
              WHEN n.c_custkey IS NULL THEN 'D'
              WHEN o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
                OR o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'U'
         END AS op,
         CASE WHEN n.c_custkey IS NOT NULL THEN n.c_acctbal
              ELSE o.c_acctbal END AS c_acctbal
  FROM m1 o FULL OUTER JOIN m2 n ON o.c_custkey = n.c_custkey
)
SELECT op, count(*) AS n_rows,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS bal_sum,
       true AS roundtrip_ok
FROM diff WHERE op IS NOT NULL
GROUP BY op
"""


# ---------------------------------------------------------------------------
# Parameterized SQL + SQL session variables (injection-safe query surface)
# ---------------------------------------------------------------------------

def q_param_sql_revenue_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The injection-safe SQL parameter surface: named PARAMETER MARKERS
    (`spark.sql(..., args=…)` — values bound as literals by the engine,
    never string-spliced) combined with a SQL SESSION VARIABLE
    (DECLARE/SET VAR) read inside the same statement.  This is how a
    catalog service should template per-tenant queries (the reference
    formats SQL strings in python — the classic injection/cache-miss
    anti-pattern; bound parameters keep ONE plan cache entry per shape).
    The oracle inlines the same constants."""
    _t(spark, sf_dir, "orders")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE wdp_band_width DOUBLE DEFAULT 50000.0"
    )
    spark.sql("SET VAR wdp_band_width = 100000.0")
    return spark.sql(
        """
        SELECT CAST(floor(o_totalprice / wdp_band_width) AS BIGINT) AS band,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,10))), 2)
                    AS DOUBLE) AS band_revenue
        FROM orders
        WHERE o_orderstatus = :status AND o_totalprice >= :floor_price
        GROUP BY 1
        """,
        args={"status": "F", "floor_price": 1000.0},
    )


SQL_PARAM_SQL_REVENUE_BANDS = """
SELECT CAST(floor(o_totalprice / 100000.0) AS BIGINT) AS band,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,10))), 2) AS DOUBLE)
         AS band_revenue
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice >= 1000.0
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Python DataSource (Spark 4): listing files through a pluggable source
# ---------------------------------------------------------------------------

def q_pyds_listing_parse_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The listing parse consumed through the Spark 4 PYTHON DATA SOURCE
    API (sources/listings.py::BosListingDataSource) instead of
    spark.read.text + expressions: synthetic bcecmd listing text is
    written to files, read back via `format("bos_listing")` with
    partition-per-file parallelism, and aggregated — against the SAME
    DuckDB oracle as `listing_parse_stats`, so the pluggable source and
    the codegen'd expression parse are pinned to identical semantics (two
    engines AND two implementations agreeing)."""
    import shutil
    import tempfile

    from .queries_ext import _synth_listing_lines
    from .sources.listings import register_bos_listing_source

    (part,) = _t(spark, sf_dir, "part")
    base = tempfile.mkdtemp(prefix="wdp_pyds_")
    try:
        _synth_listing_lines(part).coalesce(4).write.mode("overwrite").text(
            base + "/listing"
        )
        register_bos_listing_source(spark)
        parsed = (
            spark.read.format("bos_listing")
            .load(base + "/listing/*.txt")
            .select("kind", "key", "size")
        )
        brand = F.element_at(F.split(F.col("key"), "/"), 2).alias("brand")
        rows = (
            parsed.select("kind", brand, "size")
            .groupBy("kind", "brand")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("size").alias("total_size"))
            .collect()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return literal_frame(
        spark, rows, "kind string, brand string, n long, total_size long"
    )


SQL_STREAMING_INTERVAL_JOIN = """
WITH p AS (
  SELECT user_id, ts AS p_ts, value FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, ts AS v_ts FROM events WHERE event_type = 'view'
), pairs AS (
  SELECT p.p_ts, p.value
  FROM p JOIN v ON p.user_id = v.user_id
   AND v.v_ts <= p.p_ts
   AND v.v_ts >= p.p_ts - INTERVAL '1 hour'
)
SELECT strftime(time_bucket(INTERVAL '1 hour', p_ts), '%Y-%m-%d %H')
         AS hour_start,
       count(*) AS n_pairs,
       round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 4)
         AS paired_revenue
FROM pairs GROUP BY 1
"""



# ---------------------------------------------------------------------------
# As-of join with a match tolerance (pandas merge_asof semantics)
# ---------------------------------------------------------------------------

def q_asof_tolerance_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join with a 30-minute tolerance: each purchase gets
    the user's most recent click at-or-before it, but only if that click is
    within 30 minutes — staler matches become NULL (pandas ``merge_asof``
    tolerance semantics).  The gate rides the SAME single-shuffle
    union+last-over-window plan as the plain as-of (operators/joins.py::
    asof_join): the matched right timestamp is carried through the fill
    window, so tolerance costs one codegen'd comparison, zero extra
    exchanges.  Oracle: DuckDB native ASOF JOIN + an interval CASE."""
    from .operators import joins as join_ops

    (events,) = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
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
        tolerance=1800.0,
    )
    return out.select("purchase_id", "user_id", "click_id")


SQL_ASOF_TOLERANCE_CLICK = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts AS click_ts, event_id AS click_id
  FROM events WHERE event_type = 'click'
)
SELECT p.purchase_id, p.user_id,
       CASE WHEN c.click_ts >= p.purchase_ts - INTERVAL '30 minutes'
            THEN c.click_id END AS click_id
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND c.click_ts <= p.purchase_ts
"""


# ---------------------------------------------------------------------------
# Interval union / coverage (merge overlapping intervals per key)
# ---------------------------------------------------------------------------

def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user interval-union coverage: each event opens an interval of
    floor(value*60) seconds; overlapping/touching intervals merge into
    maximal islands (operators/windows.py::merge_intervals — the running
    high-water-mark sweep, window-expressed), then per user: island count,
    total covered microseconds, and the largest merge.  The whole pipeline
    is ONE shuffle on user_id — both windows, the island groupBy, and the
    final per-user rollup extend the same partitioning.  All arithmetic on
    integer epoch-microseconds, so coverage sums are engine-exact."""
    from .operators import windows as win_ops

    (events,) = _t(spark, sf_dir, "events")
    iv = events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s_us"),
        (
            F.unix_micros("ts")
            + F.floor(F.col("value") * 60).cast("long") * F.lit(1000000)
        ).alias("e_us"),
    )
    islands = win_ops.merge_intervals(
        iv, "user_id", "s_us", "e_us", tie_col="event_id"
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start")).alias("covered_us"),
        F.max("n_intervals").alias("max_merged"),
    )


SQL_INTERVAL_COVERAGE = """
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s_us,
         epoch_us(ts) + CAST(floor(value * 60) AS BIGINT) * 1000000 AS e_us
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
), marked AS (
  SELECT user_id, event_id, s_us, e_us,
         CASE WHEN max(e_us) OVER w IS NULL OR s_us > max(e_us) OVER w
              THEN 1 ELSE 0 END AS new_island
  FROM iv
  WINDOW w AS (PARTITION BY user_id ORDER BY s_us, e_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), islandized AS (
  SELECT user_id, s_us, e_us,
         sum(new_island) OVER (
           PARTITION BY user_id ORDER BY s_us, e_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
), isl AS (
  SELECT user_id, island, min(s_us) AS island_start, max(e_us) AS island_end,
         count(*) AS n_intervals
  FROM islandized GROUP BY user_id, island
)
SELECT user_id, count(*) AS n_islands,
       CAST(sum(island_end - island_start) AS BIGINT) AS covered_us,
       max(n_intervals) AS max_merged
FROM isl GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# 2-D Pareto frontier (skyline)
# ---------------------------------------------------------------------------

def q_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-frontier parts — cheapest-for-their-size: a part survives iff
    no other part is both at-most-as-expensive AND at-least-as-large with
    one strict.  Runs operators/aggregates.py::skyline_2d — local
    per-partition prune (zero shuffle) + exact single-task merge over the
    tiny remnant's distinct pairs — against a DuckDB window restatement of
    the same sort-based dominance test (the NOT EXISTS form is quadratic
    and would not survive the sf0.5 stress sweep)."""
    from .operators import aggregates as agg_ops

    (part,) = _t(spark, sf_dir, "part")
    sky = agg_ops.skyline_2d(
        part.select("p_partkey", "p_retailprice", "p_size"),
        "p_retailprice",
        "p_size",
        minimize_x=True,
        maximize_y=True,
    )
    return sky.select("p_partkey", "p_retailprice", "p_size")


SQL_PARETO_PARTS = """
WITH d AS (
  SELECT DISTINCT p_retailprice AS x, p_size AS y FROM part
), s AS (
  SELECT x, y,
         max(y) OVER (ORDER BY x ASC, y DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prior
  FROM d
)
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p JOIN s ON p.p_retailprice = s.x AND p.p_size = s.y
WHERE s.prior IS NULL OR s.prior < s.y
"""


# ---------------------------------------------------------------------------
# Markov transition matrix over event sequences
# ---------------------------------------------------------------------------

def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: per user the
    events form a (ts, event_id)-ordered sequence; count each adjacent
    (prev -> next) pair and normalize per source state.  Two shuffles — the
    per-user lag window and the (prev, next) count; the per-prev total is a
    window over the 25-row count frame, not a third aggregate+join.
    Probabilities in integer parts-per-million via floor division, the
    micro-units discipline that keeps double rounding out of checked
    output."""
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("prev_type")
    return counts.withColumn("total", F.sum("n").over(wt)).select(
        "prev_type",
        "next_type",
        "n",
        F.expr("(n * 1000000) div total").alias("prob_ppm"),
    )


SQL_EVENT_TRANSITION_MATRIX = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), c AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       CAST((n * 1000000) // sum(n) OVER (PARTITION BY prev_type) AS BIGINT)
         AS prob_ppm
FROM c
"""


# ---------------------------------------------------------------------------
# Equi-depth histogram via exact octile boundaries
# ---------------------------------------------------------------------------

def q_equi_depth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) 8-bin histogram of order totals — the
    complement of the equi-width `value_histogram`.  Boundaries are EXACT
    octiles of integer cents: percentile positions p*(n-1) with p = k/8
    interpolate with power-of-two fractions over integers, so every
    boundary is exactly representable and engine-identical (the same
    reason the micro-units pattern works).  One pass for the boundary
    aggregate (broadcast back as a 1-row frame — the scalar-from-aggregate
    pattern), one codegen'd comparison chain to bin, one count shuffle.

    Scale (r12, guide §2.2/§5): the global exact ``percentile`` sorts the
    whole distinct-cents set inside ONE aggregate evaluation — the last
    single-reducer holistic aggregate class in the registry.  A
    deterministic size router (parquet-footer row count, no job; same
    pattern as ``fuzzy_record_linkage``) keeps this reference plan below
    ``SPARK_GRAFT_PCT_DIST_MIN`` rows (default 500k — covers the bench
    SFs) and above it derives the SAME boundaries via
    ``exact_percentiles_distributed`` (distributed counts +
    range-partitioned parallel cumsum + rank lookup).  Boundaries are
    bit-identical in either branch — octiles of integer cents
    interpolate with power-of-two fractions, and the operator replays
    Spark's own interpolation expression anyway (pinned by
    ``test_equi_depth_bins_router_branches_identical``).  Measured
    sf1.0: boundary aggregate 5.47 s → 2.77 s."""
    from pyspark.sql.functions import broadcast  # noqa: PLC0415

    (orders,) = _t(spark, sf_dir, "orders")
    cents = orders.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents")
    )
    qs = [i / 8.0 for i in range(1, 8)]
    if not route_by_rows(sf_dir, "orders", "SPARK_GRAFT_PCT_DIST_MIN", 500_000):
        bounds = cents.agg(
            F.percentile("cents", F.array(*[F.lit(q) for q in qs])).alias("bs")
        )
    else:
        from .operators import aggregates as agg_ops  # noqa: PLC0415

        bounds = (
            agg_ops.exact_percentiles_distributed(cents, "cents", qs)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("p", "pct"))
                ).alias("sp")
            )
            .select(F.expr("transform(sp, x -> x.pct)").alias("bs"))
        )
    bin_expr = sum(
        (F.col("cents") > F.element_at("bs", j + 1)).cast("long")
        for j in range(7)
    ).alias("bin")
    return (
        cents.crossJoin(broadcast(bounds))
        .select("cents", bin_expr)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


SQL_EQUI_DEPTH_BINS = """
WITH c AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders
), b AS (
  SELECT quantile_cont(cents,
           [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs
  FROM c
)
SELECT (CAST(cents > bs[1] AS BIGINT) + CAST(cents > bs[2] AS BIGINT)
      + CAST(cents > bs[3] AS BIGINT) + CAST(cents > bs[4] AS BIGINT)
      + CAST(cents > bs[5] AS BIGINT) + CAST(cents > bs[6] AS BIGINT)
      + CAST(cents > bs[7] AS BIGINT)) AS bin,
       count(*) AS n_rows, min(cents) AS lo_cents, max(cents) AS hi_cents
FROM c, b GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Count-min sketch contract
# ---------------------------------------------------------------------------

def q_countmin_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter contract: build Spark's native CMS
    over event_type (treeAggregate under the hood — executors build
    partial sketches, the driver merges them associatively; the sketch is
    the ONLY thing collected) and check the CMS guarantees against the
    exact counts: never an underestimate, overestimates bounded by
    eps * N, and — at this key cardinality vs width 2/eps — exact equality
    (collisions need all `depth` rows to collide, which the fixed seed
    makes a checked deterministic fact, not a probability).  The exact
    side is a 5-row groupBy collect (bounded contract fetch).  Complements
    the freqItems-based `heavy_hitters_contract` with the mergeable-sketch
    form a 1000-executor cluster would actually ship."""
    eps, confidence, seed = 0.005, 0.99, 42
    (events,) = _t(spark, sf_dir, "events")
    # PySpark doesn't surface Dataset.stat().countMinSketch, but the JVM
    # Dataset does — call it through the gateway (classic mode only; the
    # sketch object itself lives JVM-side, estimateCount crosses per key).
    sketch = events._jdf.stat().countMinSketch(
        "event_type", eps, confidence, seed
    )
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(exact.values())
    ests = {k: sketch.estimateCount(k) for k in exact}
    n_under = sum(1 for k in exact if ests[k] < exact[k])
    n_over_bound = sum(1 for k in exact if ests[k] > exact[k] + eps * total)
    all_exact = all(ests[k] == exact[k] for k in exact)
    return literal_frame(
        spark,
        [(len(exact), n_under, n_over_bound, bool(all_exact))],
        "n_types long, n_underestimates long, n_over_bound long, all_exact boolean",
    )


SQL_COUNTMIN_CONTRACT = """
SELECT count(DISTINCT event_type) AS n_types,
       CAST(0 AS BIGINT) AS n_underestimates,
       CAST(0 AS BIGINT) AS n_over_bound,
       TRUE AS all_exact
FROM events
"""


# ---------------------------------------------------------------------------
# Filtered vector search (metadata predicate + exact top-k)
# ---------------------------------------------------------------------------

def q_filtered_vector_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — the metadata-predicate + ANN composition
    every vector store exposes: each query vector retrieves its top-5 by
    cosine among corpus vectors sharing its label only.  The predicate is
    a vectorized mask INSIDE the batched-BLAS scoring kernel
    (operators/similarity.py::filtered_cosine_topk) — the corpus is
    scanned once and never shuffles, queries broadcast once; pre-filtering
    per query would rescan the corpus per query, post-filtering would
    under-fill k."""
    from .operators import similarity as sim_ops

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    corpus = embeddings.select("vec_id", "embedding", "label")
    queries = corpus.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return sim_ops.filtered_cosine_topk(corpus, queries, k=5).select(
        "query_id", "vec_id", "cosine_sim", "rank"
    )


SQL_FILTERED_VECTOR_SEARCH = """
WITH c AS (
  SELECT vec_id, embedding, label FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, label
  FROM embeddings WHERE vec_id % 50 = 0
), scored AS (
  SELECT q.query_id, c.vec_id,
         round(
           list_sum(list_transform(list_zip(q.qv, c.embedding),
                                   x -> x[1]::DOUBLE * x[2]::DOUBLE))
           / (sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(c.embedding,
                                             x -> x::DOUBLE * x::DOUBLE)))),
           6) AS cosine_sim
  FROM c JOIN q ON c.label = q.label AND c.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine_sim, rank FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Scalable global row index (zipWithIndex analog)
# ---------------------------------------------------------------------------

def q_stable_row_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense global row index over purchases in (ts, event_id) order via
    operators/windows.py::global_index — range-partitioned parallel sort +
    Spark's distributed sequence, one lazy plan, instead of the
    single-task ``row_number() OVER (ORDER BY …)`` window the naive form
    plans.  (ts, event_id) is a total order (event_id unique), the
    operator's determinism requirement.  Checked value-for-value against
    the oracle's global row_number."""
    from .operators import windows as win_ops

    (events,) = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts"
    )
    out = win_ops.global_index(purchases, ["ts", "event_id"])
    return out.select("event_id", "row_idx")


SQL_STABLE_ROW_INDEX = """
SELECT event_id,
       row_number() OVER (ORDER BY ts, event_id) - 1 AS row_idx
FROM events WHERE event_type = 'purchase'
"""


# ---------------------------------------------------------------------------
# Linear multi-touch attribution
# ---------------------------------------------------------------------------

def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    equally across ALL of the user's clicks in the 7 days up to it (the
    multi-touch complement of `last_touch_attribution`).  Plan: user-key
    equi-join with the time band as a residual predicate (clicks and
    purchases co-shuffle on user_id once), per-purchase touch count via a
    window over purchase_id — no second aggregate-and-join — then credits
    roll up per click.  Credit math in integer micro-units with floor
    division, so the equal split is engine-exact."""
    (events,) = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("p_us"),
        F.floor(F.col("value") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("value_us"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.unix_micros("ts").alias("c_us"),
    )
    week_us = 7 * 24 * 3600 * 1000000
    touches = purchases.join(clicks, "user_id").filter(
        (F.col("c_us") <= F.col("p_us"))
        & (F.col("c_us") > F.col("p_us") - F.lit(week_us))
    )
    wn = Window.partitionBy("purchase_id")
    credited = touches.withColumn(
        "n_touches", F.count(F.lit(1)).over(wn)
    ).withColumn("credit_us", F.expr("value_us div n_touches"))
    return credited.groupBy("click_id").agg(
        F.count(F.lit(1)).alias("n_credits"),
        F.sum("credit_us").alias("credited_us"),
    )


SQL_LINEAR_ATTRIBUTION = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS value_us
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
  FROM events WHERE event_type = 'click'
), touches AS (
  SELECT p.purchase_id, c.click_id, p.value_us
  FROM p JOIN c ON p.user_id = c.user_id
   AND c.c_us <= p.p_us AND c.c_us > p.p_us - 604800000000
), credited AS (
  SELECT click_id,
         value_us // count(*) OVER (PARTITION BY purchase_id) AS credit_us
  FROM touches
)
SELECT click_id, count(*) AS n_credits,
       CAST(sum(credit_us) AS BIGINT) AS credited_us
FROM credited GROUP BY click_id
"""


# ---------------------------------------------------------------------------
# CUSUM drift detection
# ---------------------------------------------------------------------------

def q_cusum_drift_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection per user, in closed window form.
    The textbook recursion S_i = max(0, S_{i-1} + (v_i - target)) looks
    like a stateful scan, but has the exact closed form
    S_i = P_i - min(0, min_{j<=i} P_j) with P the running sum of
    deviations — so it runs as two cumulative windows over ONE shuffle on
    the user key, fully codegen'd, no Python state.  Both drift
    directions share the same prefix sums (the negative side is the
    mirror identity S-_i = max(0, min-prefix...) = max(0, max_prefix - P).
    All arithmetic in integer micro-units; alarms fire where the positive
    CUSUM exceeds a fixed threshold."""
    (events,) = _t(spark, sf_dir, "events")
    target_us = 100_000_000          # drift target: 100 value-units
    h_us = 500_000_000               # alarm threshold: 500 units of drift
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    d = (
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
        - F.lit(target_us)
    )
    staged = (
        events.select("user_id", "ts", "event_id", d.alias("d_us"))
        .withColumn("p_us", F.sum("d_us").over(wc))
        .withColumn(
            "s_pos",
            F.col("p_us") - F.least(F.lit(0), F.min("p_us").over(wc)),
        )
        .withColumn(
            "s_neg",
            F.greatest(F.lit(0), F.max("p_us").over(wc)) - F.col("p_us"),
        )
    )
    return staged.groupBy("user_id").agg(
        F.max("s_pos").alias("max_pos_cusum_us"),
        F.max("s_neg").alias("max_neg_cusum_us"),
        F.sum((F.col("s_pos") > h_us).cast("long")).alias("n_alarms"),
        F.min(
            F.when(F.col("s_pos") > h_us, F.col("event_id"))
        ).alias("first_alarm_event"),
    )


SQL_CUSUM_DRIFT_ALARMS = """
WITH staged AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) - 100000000 AS d_us,
         sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT) - 100000000)
           OVER w AS p_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), cusum AS (
  SELECT user_id, event_id,
         p_us - least(0, min(p_us) OVER w) AS s_pos,
         greatest(0, max(p_us) OVER w) - p_us AS s_neg
  FROM staged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id,
       CAST(max(s_pos) AS BIGINT) AS max_pos_cusum_us,
       CAST(max(s_neg) AS BIGINT) AS max_neg_cusum_us,
       CAST(sum(CASE WHEN s_pos > 500000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarms,
       min(CASE WHEN s_pos > 500000000 THEN event_id END)
         AS first_alarm_event
FROM cusum GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Native recursive CTE (Spark 4) + SQL pipe syntax
# ---------------------------------------------------------------------------

def q_recursive_amortization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native WITH RECURSIVE, run BY SPARK (4.x ships recursive CTEs): an
    amortization schedule per sampled order — 10%%-of-principal payments
    until the balance clears, at most 10 recursion steps by construction.
    The sibling `recursive_discount_chain` proves sequential walks can be
    re-expressed as windows when the recursion is linear; THIS entry covers
    the native form for genuinely iterative row generation, same statement
    text on the DuckDB oracle.  All integer cents, so every step is
    engine-exact.  Scale: recursion depth is bounded by the payment rule
    (10 steps), each step is one self-join of the frontier — rows never
    exceed orders x 11."""
    _t(spark, sf_dir, "orders")
    return spark.sql(SQL_RECURSIVE_AMORTIZATION)


SQL_RECURSIVE_AMORTIZATION = """
WITH RECURSIVE seed AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS principal
  FROM orders WHERE o_orderkey % 500 = 0
), pay AS (
  SELECT o_orderkey, principal,
         CAST(ceil(principal / 10.0) AS BIGINT) AS installment
  FROM seed
), sched (o_orderkey, m, remaining, installment) AS (
  SELECT o_orderkey, 0, principal, installment FROM pay
  UNION ALL
  SELECT o_orderkey, m + 1,
         CASE WHEN remaining > installment
              THEN remaining - installment ELSE 0 END,
         installment
  FROM sched WHERE remaining > 0
)
SELECT o_orderkey, m, remaining FROM sched
"""


def q_pipe_sql_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (|>, Spark 4): the order-priority mix for one month
    written as a left-to-right pipeline — FROM |> WHERE |> AGGREGATE …
    GROUP BY |> ORDER BY.  Same logical plan as the classic form (pipes
    are pure syntax), so the oracle is the classic restatement on DuckDB.
    Covers the surface a pipeline-minded user would actually write."""
    _t(spark, sf_dir, "orders")
    return spark.sql("""
FROM orders
|> WHERE o_orderdate >= TIMESTAMP '1997-03-01' AND o_orderdate < TIMESTAMP '1997-06-01'
|> AGGREGATE count(*) AS n_orders,
            CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(28,0))) AS BIGINT) AS total_cents
   GROUP BY o_orderpriority
|> ORDER BY o_orderpriority
""")


SQL_PIPE_SQL_PRIORITY_MIX = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(28,0))) AS BIGINT)
         AS total_cents
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-03-01' AND o_orderdate < TIMESTAMP '1997-06-01'
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# In-flight observed metrics (Observation API)
# ---------------------------------------------------------------------------

def q_observed_metrics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline run-audit via the Observation API: row count, exact
    micro-unit value total, and null-props count are OBSERVED on the scan
    while the real aggregation (revenue per event type) executes — audit
    metrics cost zero extra passes, the pattern for production counters
    at 100 TB where a second audit scan is unaffordable.  The query
    returns the observed metrics plus the aggregation's own totals folded
    into one row, so the oracle independently recomputes BOTH paths and
    any observation drift (wrong pass, partial metrics) hash-fails."""
    from pyspark.sql import Observation

    (events,) = _t(spark, sf_dir, "events")
    obs = Observation("audit")
    observed = events.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
        ).alias("total_value_us"),
        F.sum(F.col("props").isNull().cast("long")).alias("n_null_props"),
    )
    per_type = observed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
        ).alias("value_us"),
    )
    rows = per_type.collect()          # the action that fires the observation
    m = obs.get
    return literal_frame(
        spark,
        [(
            m["n_rows"],
            m["total_value_us"],
            m["n_null_props"],
            len(rows),
            sum(r["n"] for r in rows),
            sum(r["value_us"] for r in rows),
        )],
        "n_rows long, total_value_us long, n_null_props long, "
        "n_types long, n_rows_agg long, total_value_us_agg long",
    )


SQL_OBSERVED_METRICS_AUDIT = """
SELECT count(*) AS n_rows,
       CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_value_us,
       CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_props,
       count(DISTINCT event_type) AS n_types,
       count(*) AS n_rows_agg,
       CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_value_us_agg
FROM events
"""


# ---------------------------------------------------------------------------
# Stream-static join enrichment
# ---------------------------------------------------------------------------

def q_streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join — the one basic streaming shape the suite did not
    yet run for real: a live event stream enriched against a batch-computed
    dimension (user value tiers, ntile(4) over total purchase micro-units
    with a user_id tie-break so the tiling is total and engine-stable),
    then counted per (tier, event_type).  Executes as a REAL readStream →
    join(static) → groupBy → memory sink pipeline with an availableNow
    trigger; Spark re-resolves the static side per micro-batch, which is
    exactly the slowly-refreshing-dimension deployment shape.  Hash-checked
    against the batch restatement on DuckDB.  Scale: the dim is
    broadcast-sized per tier design; state is the (tier × type) count grid,
    constant."""
    from .operators import windows as win_ops

    (events,) = _t(spark, sf_dir, "events")
    # Exact ntile(4) via the parallel global-index operator instead of a
    # global-order window (VERDICT r6 item 2) — same semantics/oracle, no
    # single-partition sort.  The dim stays lazy: each micro-batch re-runs
    # it over the same static input, and the total order makes the tiling
    # identical every time.
    tiers = win_ops.ntile_global(
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
            ).alias("total_us")
        ),
        4,
        [F.col("total_us").asc(), F.col("user_id").asc()],
        out_col="tier",
    ).select("user_id", "tier")
    # no event-time operator downstream (complete-mode count grid) so the
    # normalized ts is simply projected away after the shared source helper.
    # The hint keeps the per-user dim the broadcast side: its lazy plan's
    # size estimate is large, and unhinted Spark broadcasts the stream.
    stream = streaming_events(spark, sf_dir)
    enriched = (
        stream.select("user_id", "event_type", "value")
        .join(F.broadcast(tiers), "user_id", "inner")
        .groupBy("tier", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
            ).alias("value_us"),
        )
    )
    return run_stream_to_memory(enriched)


SQL_STREAMING_STATIC_ENRICHMENT = """
WITH tiers AS (
  SELECT user_id,
         ntile(4) OVER (
           ORDER BY sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) ASC,
                    user_id ASC) AS tier
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT t.tier, e.event_type, count(*) AS n_events,
       CAST(sum(CAST(floor(e.value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_us
FROM events e JOIN tiers t ON e.user_id = t.user_id
GROUP BY t.tier, e.event_type
"""


# ---------------------------------------------------------------------------
# A/B experiment analysis
# ---------------------------------------------------------------------------

def q_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample experiment readout: users deterministically split into
    arms by md5 parity (the same no-rand() discipline as dataset_split),
    per-user purchase totals as the metric, then a Welch z-statistic.
    Moment sums are EXACT — counts and micro-unit sums as BIGINT, squared
    sums as DECIMAL(38,0) (per-user totals square past int64) — and only
    the final z evaluation leaves integers for one rounded double, built
    from the same exact operands on both engines.  Plan: one shuffle for
    the per-user totals, conditional-agg map-side fold to a single row."""
    (events,) = _t(spark, sf_dir, "events")
    per_user = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
            ).alias("total_us")
        )
        .withColumn(
            "arm",
            (
                F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10)
                .cast("long") % 2
            ).cast("int"),
        )
    )
    stats = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("total_us")).otherwise(0))
        .cast("long").alias("sum_a_us"),
        F.sum(F.when(F.col("arm") == 1, F.col("total_us")).otherwise(0))
        .cast("long").alias("sum_b_us"),
        F.sum(
            F.when(F.col("arm") == 0, F.col("total_us").cast("decimal(38,0)") * F.col("total_us"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        ).cast("decimal(38,0)").alias("ssq_a"),
        F.sum(
            F.when(F.col("arm") == 1, F.col("total_us").cast("decimal(38,0)") * F.col("total_us"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        ).cast("decimal(38,0)").alias("ssq_b"),
    )
    ma = F.col("sum_a_us").cast("double") / F.col("n_a")
    mb = F.col("sum_b_us").cast("double") / F.col("n_b")
    va = F.col("ssq_a").cast("double") / F.col("n_a") - ma * ma
    vb = F.col("ssq_b").cast("double") / F.col("n_b") - mb * mb
    z = (ma - mb) / F.sqrt(va / F.col("n_a") + vb / F.col("n_b"))
    return stats.select(
        "n_a", "n_b", "sum_a_us", "sum_b_us",
        F.round(z, 4).alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


SQL_AB_TEST_ZSCORE = """
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_us,
         CAST(CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 4))
                   AS BIGINT) % 2 AS INTEGER) AS arm
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), stats AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN arm = 0 THEN total_us ELSE 0 END) AS BIGINT)
           AS sum_a_us,
         CAST(sum(CASE WHEN arm = 1 THEN total_us ELSE 0 END) AS BIGINT)
           AS sum_b_us,
         CAST(sum(CASE WHEN arm = 0
                       THEN CAST(total_us AS DECIMAL(38,0)) * total_us
                       ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0))
           AS ssq_a,
         CAST(sum(CASE WHEN arm = 1
                       THEN CAST(total_us AS DECIMAL(38,0)) * total_us
                       ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0))
           AS ssq_b
  FROM per_user
)
SELECT n_a, n_b, sum_a_us, sum_b_us,
       round(
         (CAST(sum_a_us AS DOUBLE) / n_a - CAST(sum_b_us AS DOUBLE) / n_b)
         / sqrt(
             (CAST(ssq_a AS DOUBLE) / n_a
              - (CAST(sum_a_us AS DOUBLE) / n_a) * (CAST(sum_a_us AS DOUBLE) / n_a)) / n_a
           + (CAST(ssq_b AS DOUBLE) / n_b
              - (CAST(sum_b_us AS DOUBLE) / n_b) * (CAST(sum_b_us AS DOUBLE) / n_b)) / n_b
         ), 4) AS z_stat,
       abs(
         (CAST(sum_a_us AS DOUBLE) / n_a - CAST(sum_b_us AS DOUBLE) / n_b)
         / sqrt(
             (CAST(ssq_a AS DOUBLE) / n_a
              - (CAST(sum_a_us AS DOUBLE) / n_a) * (CAST(sum_a_us AS DOUBLE) / n_a)) / n_a
           + (CAST(ssq_b AS DOUBLE) / n_b
              - (CAST(sum_b_us AS DOUBLE) / n_b) * (CAST(sum_b_us AS DOUBLE) / n_b)) / n_b
         )) > 1.96 AS significant_95
FROM stats
"""


# ---------------------------------------------------------------------------
# Session path analysis
# ---------------------------------------------------------------------------

def q_session_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top navigation paths: each user session (30-min inactivity cutoff,
    the shared sessionize kernel) becomes its ordered event-type string;
    count sessions per path and keep the 20 most common.  The full-path
    complement of the bigram `event_transition_matrix`.  Plan: ONE
    user-key shuffle covers the session window and the per-session
    ordered collect (sort_array over (ts, event_id, type) structs keeps
    the concatenation deterministic); the path count is a second small
    shuffle on the path string.  Top-k is TakeOrderedAndProject."""
    from .operators import windows as win_ops

    (events,) = _t(spark, sf_dir, "events")
    sess = win_ops.with_session_ids(events)
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.unix_micros("ts").alias("t"),
                                F.col("event_id").alias("i"),
                                F.col("event_type").alias("e"),
                            )
                        )
                    ),
                    lambda s: s["e"],
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(20)
    )


SQL_SESSION_PATH_COUNTS = """
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > 1800000000 OR lag(epoch_us(ts))
                OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM marked
), paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sess GROUP BY user_id, session_id
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC LIMIT 20
"""


# ---------------------------------------------------------------------------
# Robust outliers (median absolute deviation)
# ---------------------------------------------------------------------------

def q_mad_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier detection: median + MAD instead of mean +
    stddev (immune to the very outliers being hunted).  Exact medians over
    integer micro-units interpolate at worst to an exact .5, so both
    engines' medians are bit-identical; deviations and the 3-sigma-scaled
    MAD threshold (1.4826 * MAD * 3) then compose from identical doubles.
    Two grouped exact-percentile passes (value median, then deviation
    median) + one conditional count — three small shuffles on the 5-row
    type key, all map-side combined."""
    (events,) = _t(spark, sf_dir, "events")
    vus = events.select(
        "event_type",
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("v_us"),
    )
    med = vus.groupBy("event_type").agg(
        F.percentile("v_us", F.lit(0.5)).alias("med_us")
    )
    dev = vus.join(med, "event_type").select(
        "event_type", "med_us",
        F.abs(F.col("v_us") - F.col("med_us")).alias("adev"),
        "v_us",
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad_us")
    )
    thresholded = dev.join(mad, "event_type").withColumn(
        "is_outlier",
        F.abs(F.col("v_us") - F.col("med_us"))
        > F.lit(3 * 1.4826) * F.col("mad_us"),
    )
    return thresholded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.first("med_us"), 4).alias("med_us"),
        F.round(F.first("mad_us"), 4).alias("mad_us"),
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
    )


SQL_MAD_OUTLIER_COUNTS = """
WITH v AS (
  SELECT event_type,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_us
  FROM events
), med AS (
  SELECT event_type, quantile_cont(v_us, 0.5) AS med_us FROM v GROUP BY event_type
), dev AS (
  SELECT v.event_type, v.v_us, med.med_us,
         abs(v.v_us - med.med_us) AS adev
  FROM v JOIN med ON v.event_type = med.event_type
), mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad_us FROM dev GROUP BY event_type
)
SELECT d.event_type, count(*) AS n,
       round(any_value(d.med_us), 4) AS med_us,
       round(any_value(m.mad_us), 4) AS mad_us,
       CAST(sum(CASE WHEN abs(d.v_us - d.med_us) > 3 * 1.4826 * m.mad_us
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
"""


# ---------------------------------------------------------------------------
# k-core decomposition contract
# ---------------------------------------------------------------------------

def q_kcore_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core (k=3) over the part-supplier graph (same disjoint 2n/2n+1
    node encoding as the other graph queries), validated by the defining
    properties instead of a value oracle — iterative peeling is not
    SQL-expressible (non-monotone recursion), but its RESULT is exactly
    characterized by: (a) every core node keeps >= k neighbors inside the
    core, and (b) every excluded node has < k core neighbors (otherwise
    the core would not be maximal).  Both properties are computed
    Spark-side from the output; the oracle supplies the plain-SQL graph
    totals plus the expected booleans, so a wrong core hash-fails.

    Job-count discipline (VERDICT r5 item 7 — twice the noise rule's
    repeat offender purely from scheduler round-trips): one checkpointed
    distinct-edge frame feeds both the operator and the contract totals,
    all five scalar probes fuse into a single action, and AQE is scoped
    OFF for this query's bounded iterative plans (restored in `finally`):
    under AQE every shuffle stage is its own scheduler job, which triples
    the job count of a small-frame peeling loop without improving any of
    these plans — on a real cluster at full scale you would leave AQE on
    and accept the extra round-trips.  Together: 34 -> 8 Spark jobs at
    identical results."""
    from .operators import graph as graph_ops

    # Scope the overrides to a CHILD session (isolated SQLConf, shared
    # SparkContext + cache) instead of mutating the caller's session conf:
    # a concurrent query or stream in the same SparkSession would otherwise
    # silently execute under AQE-off / 8 shuffle partitions for the
    # duration of this body (ADVICE r6).  The child inherits nothing
    # mutable from the parent, so no restore step exists to get wrong.
    child = spark.newSession()
    # Semantic conf the engine pins elsewhere; copy the parent's runtime
    # value so child plans agree (no timestamps in this query, but cheap).
    child.conf.set(
        "spark.sql.session.timeZone",
        spark.conf.get("spark.sql.session.timeZone"),
    )
    child.conf.set("spark.sql.adaptive.enabled", "false")
    # Without AQE's coalescing, a default 200-partition shuffle would run
    # 200 tasks per tiny stage — pin a small static width for the scoped
    # window (the same number AQE itself settles on for these frames).
    child.conf.set("spark.sql.shuffle.partitions", "8")
    return _kcore_contract_body(child, sf_dir, graph_ops)


def _kcore_contract_body(spark, sf_dir, graph_ops) -> DataFrame:
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    edges = (
        lineitem.select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # The bipartite even/odd encoding makes the two directions disjoint,
    # so the plain union IS the canonical symmetric edge set (distinct,
    # no self-loops) — a narrow map over the checkpointed blocks that
    # both the operator (assume_undirected_canonical skips its
    # symmetrize-distinct shuffle) and the contract's totals share.
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    core = graph_ops.k_core(
        sym, k=3, assume_undirected_canonical=True
    ).localCheckpoint(eager=True)

    core_n = core.select("node")
    # All five scalars in ONE action: three 1-row aggregates crossJoined —
    # (a) min internal degree + core size, the graph totals (each
    # undirected edge appears once per direction in sym, so n_edges =
    # |sym| / 2), and (b) maximality — the count of EXCLUDED nodes that
    # keep >= 3 core neighbors (must be 0, else the core wasn't maximal).
    cstats = core.agg(
        F.min("degree").alias("m"), F.count(F.lit(1)).alias("n")
    )
    gstats = sym.agg(
        F.countDistinct("src").alias("nn"), F.count(F.lit(1)).alias("ne")
    )
    vstats = (
        sym.join(core_n.withColumnRenamed("node", "dst"), "dst", "left_semi")
        .join(core_n.withColumnRenamed("node", "src"), "src", "left_anti")
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") >= 3)
        .agg(F.count(F.lit(1)).alias("nv"))
    )
    row = cstats.crossJoin(gstats).crossJoin(vstats).collect()[0]
    min_deg, n_core = row["m"], row["n"]
    n_nodes, n_edges = row["nn"], row["ne"] // 2
    excluded_viol = row["nv"]
    return literal_frame(
        spark,
        [(
            n_nodes,
            n_edges,
            bool(min_deg is None or min_deg >= 3),
            excluded_viol == 0,
            n_core <= n_nodes,
        )],
        "n_nodes long, n_edges long, core_min_deg_ok boolean, "
        "excluded_maximal boolean, core_bounded boolean",
    )


SQL_KCORE_CONTRACT = """
WITH e AS (
  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst
  FROM lineitem
), sym AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
)
SELECT count(DISTINCT src) AS n_nodes,
       CAST(count(*) / 2 AS BIGINT) AS n_edges,
       TRUE AS core_min_deg_ok,
       TRUE AS excluded_maximal,
       TRUE AS core_bounded
FROM sym
"""


# ---------------------------------------------------------------------------
# Curriculum data ordering
# ---------------------------------------------------------------------------

def q_curriculum_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training data: documents bucketed into
    length tertiles (short -> long, the classic easy-to-hard proxy), a
    deterministic md5 shuffle WITHIN each tertile, and one global
    contiguous training index over (tertile, shuffle_key, doc_id) via the
    scalable `global_index` operator — the whole "write the training
    order" step without a single-task sort.  The tertile split uses exact
    percentile BOUNDARIES (the `customer_value_deciles` pattern, VERDICT
    r5 item 3) instead of ntile: a global-order window would funnel every
    per-doc row through one WindowExec partition, while the boundary form
    is one 2-value percentile aggregate broadcast back into a parallel
    map; docs tied exactly AT a length boundary share the lower tertile.
    The rollup checks the property that matters: each tertile occupies
    one contiguous index range (min/max per bucket), which the oracle
    recomputes from a global row_number over the same total order."""
    from .operators import windows as win_ops

    (documents,) = _t(spark, sf_dir, "documents")
    docs = documents.select("doc_id", "n_chars")
    bounds = docs.agg(
        F.expr(
            "percentile(n_chars,"
            " array(0.3333333333333333, 0.6666666666666666))"
        ).alias("bs")
    )
    staged = docs.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        (
            F.size(F.filter("bs", lambda b: F.col("n_chars") > b)) + 1
        ).alias("tertile"),
        F.md5(F.col("doc_id").cast("string")).alias("shuffle_key"),
    )
    indexed = win_ops.global_index(
        staged, ["tertile", "shuffle_key", "doc_id"]
    )
    return indexed.groupBy("tertile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("row_idx").alias("min_idx"),
        F.max("row_idx").alias("max_idx"),
    )


SQL_CURRICULUM_ORDER_STATS = """
WITH bounds AS (
  SELECT quantile_cont(n_chars,
                       [0.3333333333333333, 0.6666666666666666]) AS bs
  FROM documents
), staged AS (
  SELECT doc_id,
         len(list_filter(bs, b -> n_chars > b)) + 1 AS tertile,
         md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents, bounds
), indexed AS (
  SELECT tertile,
         row_number() OVER (ORDER BY tertile, shuffle_key, doc_id) - 1
           AS row_idx
  FROM staged
)
SELECT tertile, count(*) AS n_docs,
       min(row_idx) AS min_idx, max(row_idx) AS max_idx
FROM indexed GROUP BY tertile
"""


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------

def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per user recency (micros since their
    last purchase, against the dataset's max timestamp so the query is
    reproducible), frequency (purchase count), monetary (micro-unit
    total); quintile-score each axis with full (value, user_id) tie-break
    total orders, and count users per composite segment.  One shuffle for
    the per-user aggregate; each quintile scoring is a PARALLEL range
    exchange + distributed sequence + ntile arithmetic (windows.ntile_expr)
    — no global-order window — and the final segment count is map-side
    combinable.  The whole query is one lazy plan."""
    from .operators import windows as win_ops

    (events,) = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase")
    anchor = purchases.agg(F.max(F.unix_micros("ts")).alias("t_max"))
    per_user = (
        purchases.groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(
                F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
            ).alias("monetary_us"),
        )
        .crossJoin(F.broadcast(anchor))
        .withColumn("recency_us", F.col("t_max") - F.col("last_us"))
    )
    # Three EXACT ntile(5) tilings via the parallel global-index operator
    # instead of three global-order windows: identical semantics and
    # oracle, but each tiling is a range exchange + distributed sequence +
    # ntile arithmetic rather than a one-partition WindowExec sort (VERDICT
    # r6 item 2).  Each level indexes its own range partitioning inside one
    # operator, so chaining is safe and carries all columns (no re-join on
    # user_id).  All three share ONE user count: ntile_global would count
    # each level's input, and counting a chained level re-runs every level
    # below it.
    scored = per_user.crossJoin(
        F.broadcast(per_user.agg(F.count(F.lit(1)).alias("n_total")))
    )
    for order, name in (
        ([F.col("recency_us").asc(), F.col("user_id").asc()], "r"),
        ([F.col("freq").desc(), F.col("user_id").asc()], "f"),
        ([F.col("monetary_us").desc(), F.col("user_id").asc()], "m"),
    ):
        scored = win_ops.global_index(scored, order).withColumn(
            name, win_ops.ntile_expr(F.col("row_idx"), F.col("n_total"), 5)
        ).drop("row_idx")
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_users")
    )


SQL_RFM_SEGMENTS = """
WITH p AS (
  SELECT user_id, epoch_us(ts) AS t_us,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_us
  FROM events WHERE event_type = 'purchase'
), anchor AS (SELECT max(t_us) AS t_max FROM p),
per_user AS (
  SELECT user_id, max(t_us) AS last_us, count(*) AS freq,
         CAST(sum(v_us) AS BIGINT) AS monetary_us
  FROM p GROUP BY user_id
), scored AS (
  SELECT user_id,
         ntile(5) OVER (ORDER BY (a.t_max - last_us) ASC, user_id ASC) AS r,
         ntile(5) OVER (ORDER BY freq DESC, user_id ASC) AS f,
         ntile(5) OVER (ORDER BY monetary_us DESC, user_id ASC) AS m
  FROM per_user, anchor a
)
SELECT r, f, m, count(*) AS n_users FROM scored GROUP BY r, f, m
"""


# ---------------------------------------------------------------------------
# Exact weighted median
# ---------------------------------------------------------------------------

def q_weighted_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median per event type — each event's value weighted
    by its quantity proxy (floor(value) + 1), the classic order-statistic
    that approx sketches can't give exactly.  Window form: sort values
    within type, running weight vs half the total weight (scalar from the
    same partition via an unbounded-frame sum — no second aggregate+join),
    take the FIRST value whose cumulative weight reaches half.  Lower
    weighted median (no interpolation) with a (value, event_id) tie-break,
    restated identically on the oracle, so both engines pick the same row.
    One shuffle on event_type total."""
    (events,) = _t(spark, sf_dir, "events")
    staged = events.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("v_us"),
        (F.floor("value").cast("long") + 1).alias("w"),
    )
    ws = Window.partitionBy("event_type").orderBy(
        F.col("v_us").asc(), F.col("event_id").asc()
    )
    wall = Window.partitionBy("event_type")
    cum = (
        staged.withColumn(
            "cw", F.sum("w").over(ws.rowsBetween(Window.unboundedPreceding, 0))
        )
        .withColumn("tw", F.sum("w").over(wall))
        .filter(F.col("cw") * 2 >= F.col("tw"))
    )
    wmin = Window.partitionBy("event_type").orderBy(
        F.col("cw").asc(), F.col("event_id").asc()
    )
    return (
        cum.withColumn("rn", F.row_number().over(wmin))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("v_us").alias("weighted_median_us"),
            "tw",
        )
    )


SQL_WEIGHTED_MEDIAN_VALUE = """
WITH staged AS (
  SELECT event_type, event_id,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_us,
         CAST(floor(value) AS BIGINT) + 1 AS w
  FROM events
), cum AS (
  SELECT event_type, event_id, v_us,
         sum(w) OVER (PARTITION BY event_type ORDER BY v_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(w) OVER (PARTITION BY event_type) AS tw
  FROM staged
), hit AS (
  SELECT event_type, v_us, tw,
         row_number() OVER (PARTITION BY event_type ORDER BY cw, event_id)
           AS rn
  FROM cum WHERE cw * 2 >= tw
)
SELECT event_type, v_us AS weighted_median_us, CAST(tw AS BIGINT) AS tw
FROM hit WHERE rn = 1
"""


ANALYTICS_QUERIES = {
    "rfm_segments": q_rfm_segments,
    "weighted_median_value": q_weighted_median_value,
    "curriculum_order_stats": q_curriculum_order_stats,
    "kcore_contract": q_kcore_contract,
    "session_path_counts": q_session_path_counts,
    "mad_outlier_counts": q_mad_outlier_counts,
    "ab_test_zscore": q_ab_test_zscore,
    "streaming_static_enrichment": q_streaming_static_enrichment,
    "observed_metrics_audit": q_observed_metrics_audit,
    "recursive_amortization": q_recursive_amortization,
    "pipe_sql_priority_mix": q_pipe_sql_priority_mix,
    "cusum_drift_alarms": q_cusum_drift_alarms,
    "stable_row_index": q_stable_row_index,
    "linear_attribution": q_linear_attribution,
    "filtered_vector_search": q_filtered_vector_search,
    "asof_tolerance_click": q_asof_tolerance_click,
    "interval_coverage": q_interval_coverage,
    "pareto_parts": q_pareto_parts,
    "event_transition_matrix": q_event_transition_matrix,
    "equi_depth_bins": q_equi_depth_bins,
    "countmin_contract": q_countmin_contract,
    "gopher_quality_flags": q_gopher_quality_flags,
    "char_entropy_score": q_char_entropy_score,
    "zorder_cell_keys": q_zorder_cell_keys,
    "join_skew_diagnosis": q_join_skew_diagnosis,
    "sentence_split_udtf": q_sentence_split_udtf,
    "bloom_decontamination": q_bloom_decontamination,
    "approx_quantile_contract": q_approx_quantile_contract,
    "event_rate_zscore": q_event_rate_zscore,
    "funnel_conversion": q_funnel_conversion,
    "reservoir_sample_groups": q_reservoir_sample_groups,
    "variant_props_extract": q_variant_props_extract,
    "recursive_discount_chain": q_recursive_discount_chain,
    "lateral_topk_suppliers": q_lateral_topk_suppliers,
    "pagerank_scores": q_pagerank_scores,
    "bfs_hops_from_hubs": q_bfs_hops_from_hubs,
    "ewma_event_value": q_ewma_event_value,
    "partition_pruned_stats": q_partition_pruned_stats,
    "streaming_ewma_parity": q_streaming_ewma_parity,
    "sql_udf_tokens": q_sql_udf_tokens,
    "event_value_rank_bands": q_event_value_rank_bands,
    "doc_chunk_windows": q_doc_chunk_windows,
    "incremental_dedup_audit": q_incremental_dedup_audit,
    "csv_roundtrip_stats": q_csv_roundtrip_stats,
    "table_stats_contract": q_table_stats_contract,
    "value_histogram": q_value_histogram,
    "triangle_count": q_triangle_count,
    "orc_roundtrip_stats": q_orc_roundtrip_stats,
    "jsonl_roundtrip_stats": q_jsonl_roundtrip_stats,
    "session_funnel": q_session_funnel,
    "cohort_retention": q_cohort_retention,
    "asof_next_click_after_view": q_asof_next_click_after_view,
    "bm25_topk_search": q_bm25_topk_search,
    "hybrid_rank_fusion": q_hybrid_rank_fusion,
    "scd2_status_history": q_scd2_status_history,
    "k_anonymity_audit": q_k_anonymity_audit,
    "l_diversity_audit": q_l_diversity_audit,
    "bpe_merge_pairs": q_bpe_merge_pairs,
    "weighted_sample_wor": q_weighted_sample_wor,
    "incremental_agg_maintenance": q_incremental_agg_maintenance,
    "cdc_snapshot_apply": q_cdc_snapshot_apply,
    "curation_pipeline_stats": q_curation_pipeline_stats,
    "streaming_cdc_parity": q_streaming_cdc_parity,
    "pit_customer_status": q_pit_customer_status,
    "last_touch_attribution": q_last_touch_attribution,
    "unigram_lm_perplexity": q_unigram_lm_perplexity,
    "dsir_importance_weights": q_dsir_importance_weights,
    "streaming_interval_join": q_streaming_interval_join,
    "xml_roundtrip_stats": q_xml_roundtrip_stats,
    "pyds_listing_parse_stats": q_pyds_listing_parse_stats,
    "theta_sketch_overlap": q_theta_sketch_overlap,
    "bitmap_distinct_counts": q_bitmap_distinct_counts,
    "nation_vip_listagg": q_nation_vip_listagg,
    "hll_rollup_contract": q_hll_rollup_contract,
    "param_sql_revenue_bands": q_param_sql_revenue_bands,
    "version_diff_changes": q_version_diff_changes,
    "dq_constraint_report": q_dq_constraint_report,
}

ANALYTICS_ORACLES = {
    "rfm_segments": SQL_RFM_SEGMENTS,
    "weighted_median_value": SQL_WEIGHTED_MEDIAN_VALUE,
    "curriculum_order_stats": SQL_CURRICULUM_ORDER_STATS,
    "kcore_contract": SQL_KCORE_CONTRACT,
    "session_path_counts": SQL_SESSION_PATH_COUNTS,
    "mad_outlier_counts": SQL_MAD_OUTLIER_COUNTS,
    "ab_test_zscore": SQL_AB_TEST_ZSCORE,
    "streaming_static_enrichment": SQL_STREAMING_STATIC_ENRICHMENT,
    "observed_metrics_audit": SQL_OBSERVED_METRICS_AUDIT,
    "recursive_amortization": SQL_RECURSIVE_AMORTIZATION,
    "pipe_sql_priority_mix": SQL_PIPE_SQL_PRIORITY_MIX,
    "cusum_drift_alarms": SQL_CUSUM_DRIFT_ALARMS,
    "stable_row_index": SQL_STABLE_ROW_INDEX,
    "linear_attribution": SQL_LINEAR_ATTRIBUTION,
    "filtered_vector_search": SQL_FILTERED_VECTOR_SEARCH,
    "asof_tolerance_click": SQL_ASOF_TOLERANCE_CLICK,
    "interval_coverage": SQL_INTERVAL_COVERAGE,
    "pareto_parts": SQL_PARETO_PARTS,
    "event_transition_matrix": SQL_EVENT_TRANSITION_MATRIX,
    "equi_depth_bins": SQL_EQUI_DEPTH_BINS,
    "countmin_contract": SQL_COUNTMIN_CONTRACT,
    "gopher_quality_flags": SQL_GOPHER_QUALITY_FLAGS,
    "char_entropy_score": SQL_CHAR_ENTROPY_SCORE,
    "zorder_cell_keys": _sql_zorder_cell_keys(),
    "join_skew_diagnosis": SQL_JOIN_SKEW_DIAGNOSIS,
    "sentence_split_udtf": SQL_SENTENCE_SPLIT_UDTF,
    "bloom_decontamination": SQL_BLOOM_DECONTAMINATION,
    "approx_quantile_contract": SQL_APPROX_QUANTILE_CONTRACT,
    "event_rate_zscore": SQL_EVENT_RATE_ZSCORE,
    "funnel_conversion": SQL_FUNNEL_CONVERSION,
    "reservoir_sample_groups": SQL_RESERVOIR_SAMPLE_GROUPS,
    "variant_props_extract": SQL_VARIANT_PROPS_EXTRACT,
    "recursive_discount_chain": _RECURSIVE_CHAIN_SQL,
    "lateral_topk_suppliers": _LATERAL_TOPK_SQL,
    "pagerank_scores": SQL_PAGERANK_SCORES,
    "bfs_hops_from_hubs": SQL_BFS_HOPS,
    "ewma_event_value": SQL_EWMA_EVENT_VALUE,
    "partition_pruned_stats": SQL_PARTITION_PRUNED_STATS,
    "streaming_ewma_parity": SQL_EWMA_EVENT_VALUE,
    "sql_udf_tokens": SQL_SQL_UDF_TOKENS,
    "event_value_rank_bands": SQL_EVENT_VALUE_RANK_BANDS,
    "doc_chunk_windows": SQL_DOC_CHUNK_WINDOWS,
    "incremental_dedup_audit": SQL_INCREMENTAL_DEDUP_AUDIT,
    "csv_roundtrip_stats": SQL_CSV_ROUNDTRIP_STATS,
    "table_stats_contract": SQL_TABLE_STATS_CONTRACT,
    "value_histogram": SQL_VALUE_HISTOGRAM,
    "triangle_count": SQL_TRIANGLE_COUNT,
    "orc_roundtrip_stats": SQL_CSV_ROUNDTRIP_STATS,
    "jsonl_roundtrip_stats": SQL_CSV_ROUNDTRIP_STATS,
    "session_funnel": SQL_SESSION_FUNNEL,
    "cohort_retention": SQL_COHORT_RETENTION,
    "asof_next_click_after_view": SQL_ASOF_NEXT_CLICK_AFTER_VIEW,
    "bm25_topk_search": SQL_BM25_TOPK_SEARCH,
    "hybrid_rank_fusion": SQL_HYBRID_RANK_FUSION,
    "scd2_status_history": SQL_SCD2_STATUS_HISTORY,
    "k_anonymity_audit": SQL_K_ANONYMITY_AUDIT,
    "l_diversity_audit": SQL_L_DIVERSITY_AUDIT,
    "bpe_merge_pairs": SQL_BPE_MERGE_PAIRS,
    "weighted_sample_wor": SQL_WEIGHTED_SAMPLE_WOR,
    "incremental_agg_maintenance": SQL_INCREMENTAL_AGG_MAINTENANCE,
    "cdc_snapshot_apply": SQL_CDC_SNAPSHOT_APPLY,
    "curation_pipeline_stats": SQL_CURATION_PIPELINE_STATS,
    "streaming_cdc_parity": SQL_CDC_SNAPSHOT_APPLY,
    "pit_customer_status": SQL_PIT_CUSTOMER_STATUS,
    "last_touch_attribution": SQL_LAST_TOUCH_ATTRIBUTION,
    "unigram_lm_perplexity": SQL_UNIGRAM_LM_PERPLEXITY,
    "dsir_importance_weights": SQL_DSIR_IMPORTANCE_WEIGHTS,
    "streaming_interval_join": SQL_STREAMING_INTERVAL_JOIN,
    "xml_roundtrip_stats": SQL_CSV_ROUNDTRIP_STATS,
}

from .queries_ext import SQL_LISTING_PARSE_STATS  # noqa: E402  (shared oracle)

ANALYTICS_ORACLES["pyds_listing_parse_stats"] = SQL_LISTING_PARSE_STATS
ANALYTICS_ORACLES["theta_sketch_overlap"] = SQL_THETA_SKETCH_OVERLAP
ANALYTICS_ORACLES["bitmap_distinct_counts"] = SQL_BITMAP_DISTINCT_COUNTS
ANALYTICS_ORACLES["nation_vip_listagg"] = SQL_NATION_VIP_LISTAGG
ANALYTICS_ORACLES["hll_rollup_contract"] = SQL_HLL_ROLLUP_CONTRACT
ANALYTICS_ORACLES["param_sql_revenue_bands"] = SQL_PARAM_SQL_REVENUE_BANDS
ANALYTICS_ORACLES["version_diff_changes"] = SQL_VERSION_DIFF_CHANGES
ANALYTICS_ORACLES["dq_constraint_report"] = SQL_DQ_CONSTRAINT_REPORT
