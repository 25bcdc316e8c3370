"""Extension query registry — second tranche of SURVEY.md §2 operators.

Same conventions as queries.py: every entry runs on the driver tables with a
DuckDB oracle when ANSI-SQL-expressible; column aliases identical on both
sides; doubles rounded identically.  Covered here:

- §2.1 object-store listing text parse (`scene_copy.py:94-226` shape)
- §2.3 common-prefix fold (`scene_copy.py:341-369`)
- §2.7 directory content hashing (`scene_registry.py:608-644`)
- §2.7 date/time bucketing (`job_utils.py:53-104` family)
- §2.6 argmax/min-by (`navmesh_connectivity.py:261`, `navmesh_injector.py:371`)
- §2.5 yaw-from-trajectory / pitch-from-slope (`transform_track.py:10-53`)
- §2.5 extrinsic view-matrix export (`camera_exporter.py:253-306`)
- §1.1 nested document export (`scene_scanner.py:539-574`)
- §2.3 bucketed range join (100 TB path of `worker_create.py:720-730`)
- §2.3 prefix theta-join; §2.4 ratio classification; §2.5 frame grid,
  fixed-speed truncation, behavior-aware resample; §2.5 max-index scan
- §2.8 MERGE upsert; §2.9 connected components (recursive-CTE oracle)
- TPC-H Q3/Q5-shaped multi-join plans over the full star schema
- §2.11 seeded behavior simulation (rows-only; `behavior_executor.py:638-857`)
- LLM-pipeline extensions: SimHash banding, MinHash→exact-verify pipeline,
  TF-IDF, IVF ANN, multimodal feature extraction (rows-only where
  approximate/stateful)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import paths as path_fns
from .functions.geometry import with_extrinsics_expr
from .operators import dedup as dedup_ops
from .operators import joins as join_ops
from .operators import similarity as sim_ops
from .operators import simulate as sim_gen
from .operators import stateful as stateful_ops
from .operators import windows as win_ops
from .session import _t, literal_frame, streaming_events
from .sources import listings as listing_src
from .streaming import monitor as monitor_ops


# ---------------------------------------------------------------------------
# §2.1 listing text parse
# ---------------------------------------------------------------------------

def _synth_listing_lines(part: DataFrame) -> DataFrame:
    """Deterministic bcecmd-style listing text synthesized from `part`:
    object lines (key contains spaces), PRE prefix lines, a TOTAL footer —
    the exact line shapes `scene_copy.py:131-135,191-226` handles."""
    day = F.lpad((F.col("p_partkey") % 27 + 1).cast("string"), 2, "0")
    size = (F.col("p_partkey") * 100 + F.col("p_size")).cast("string")
    obj = part.select(
        F.concat(
            F.lit("2024-01-"), day, F.lit(" 11:22:33    "), size,
            F.lit("  STANDARD  scenes/"), F.col("p_brand"), F.lit("/"),
            F.col("p_name"), F.lit(".uasset"),
        ).alias("value")
    )
    pre = part.select("p_brand").distinct().select(
        F.concat(F.lit("PRE  scenes/"), F.col("p_brand"), F.lit("/")).alias("value")
    )
    total = literal_frame(obj.sparkSession, [("TOTAL 42 OBJECTS",)], "value string")
    return obj.unionByName(pre).unionByName(total)


def q_listing_parse_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse bcecmd-style listing text → per (kind, brand) object count and
    byte total.  Semi-structured log parse fully in expressions
    (sources/listings.py::parse_bos_listing)."""
    (part,) = _t(spark, sf_dir, "part")
    parsed = listing_src.parse_bos_listing(_synth_listing_lines(part))
    brand = F.element_at(F.split(F.col("key"), "/"), 2).alias("brand")
    return (
        parsed.select("kind", brand, "size")
        .groupBy("kind", "brand")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("size").alias("total_size"))
    )


SQL_LISTING_PARSE_STATS = """
WITH obj AS (
  SELECT concat('2024-01-', lpad(CAST(p_partkey % 27 + 1 AS VARCHAR), 2, '0'),
                ' 11:22:33    ', CAST(p_partkey * 100 + p_size AS VARCHAR),
                '  STANDARD  scenes/', p_brand, '/', p_name, '.uasset') AS value
  FROM part
), pre AS (
  SELECT DISTINCT concat('PRE  scenes/', p_brand, '/') AS value FROM part
), lines AS (
  SELECT value FROM obj UNION ALL SELECT value FROM pre
  UNION ALL SELECT 'TOTAL 42 OBJECTS'
), parsed AS (
  SELECT CASE WHEN regexp_matches(value, '^\\s*PRE\\s+') THEN 'prefix'
              ELSE 'object' END AS kind,
         CASE WHEN regexp_matches(value, '^\\s*PRE\\s+')
              THEN regexp_replace(value, '^\\s*PRE\\s+', '')
              ELSE regexp_extract(value,
                '^\\s*(\\d{4}-\\d{2}-\\d{2})\\s+(\\d{2}:\\d{2}:\\d{2})\\s+(\\d+)\\s+(\\S+)\\s+(.*\\S)\\s*$', 5)
         END AS key,
         CASE WHEN regexp_matches(value, '^\\s*PRE\\s+') THEN NULL
              ELSE try_cast(regexp_extract(value,
                '^\\s*(\\d{4}-\\d{2}-\\d{2})\\s+(\\d{2}:\\d{2}:\\d{2})\\s+(\\d+)\\s+(\\S+)\\s+(.*\\S)\\s*$', 3)
                AS BIGINT)
         END AS size
  FROM lines
  WHERE NOT regexp_matches(value, '^\\s*TOTAL\\b') AND trim(value) <> ''
)
SELECT kind, split_part(key, '/', 2) AS brand,
       count(*) AS n, CAST(sum(size) AS BIGINT) AS total_size
FROM parsed
WHERE kind = 'prefix' OR key <> ''
GROUP BY kind, brand
"""


# ---------------------------------------------------------------------------
# §2.3 common-prefix fold
# ---------------------------------------------------------------------------

def q_common_prefix_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest common path prefix per brand via LCP(min,max) — two aggregates
    plus one O(len) expression instead of the reference's per-path fold."""
    (part,) = _t(spark, sf_dir, "part")
    path = F.concat(
        F.lit("scenes/"), F.col("p_brand"), F.lit("/"), F.col("p_name"),
        F.lit(".uasset"),
    )
    g = part.select(F.col("p_brand"), path.alias("path")).groupBy("p_brand").agg(
        F.min("path").alias("mn"), F.max("path").alias("mx"),
        F.count(F.lit(1)).alias("n_paths"),
    )
    return g.select(
        "p_brand",
        path_fns.longest_common_prefix(F.col("mn"), F.col("mx")).alias("common_prefix"),
        "n_paths",
    )


SQL_COMMON_PREFIX_FOLD = """
WITH p AS (
  SELECT p_brand, concat('scenes/', p_brand, '/', p_name, '.uasset') AS path
  FROM part
), g AS (
  SELECT p_brand, min(path) AS mn, max(path) AS mx, count(*) AS n_paths
  FROM p GROUP BY p_brand
)
SELECT p_brand,
       substr(mn, 1, list_max(list_filter(range(0, least(length(mn), length(mx)) + 1),
                                          i -> substr(mn, 1, i) = substr(mx, 1, i))))
         AS common_prefix,
       n_paths
FROM g
"""


# ---------------------------------------------------------------------------
# §2.7 content hashing (directory-hash change detection)
# ---------------------------------------------------------------------------

def q_content_hash_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content hash per brand: md5 over the sorted (name:size) file listing —
    the reference's directory-tree change detector (`scene_registry.py:608-644`)
    as sort_array(collect_list)+md5; the hash is over metadata strings, never
    file bodies, so the shuffle payload stays tiny at 100 TB."""
    (part,) = _t(spark, sf_dir, "part")
    entry = F.concat_ws(
        ":", F.col("p_name"), (F.col("p_partkey") * 100 + F.col("p_size")).cast("string")
    )
    return (
        part.select(F.col("p_brand"), entry.alias("entry"))
        .groupBy("p_brand")
        .agg(
            F.md5(F.concat_ws("|", F.array_sort(F.collect_list("entry")))).alias("content_hash"),
            F.count(F.lit(1)).alias("n_files"),
        )
    )


SQL_CONTENT_HASH_BRANDS = """
SELECT p_brand,
       md5(string_agg(concat(p_name, ':', CAST(p_partkey * 100 + p_size AS VARCHAR)),
                      '|' ORDER BY concat(p_name, ':', CAST(p_partkey * 100 + p_size AS VARCHAR))))
         AS content_hash,
       count(*) AS n_files
FROM part GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# §2.7 date/time bucketing
# ---------------------------------------------------------------------------

def q_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month bucketing + early-month conditional count — the date-handling
    family (`job_utils.py:53-104` date suffixing, ISO timestamps §1.3)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
            F.count(F.when(F.dayofmonth("o_orderdate") <= 10, 1)).alias("n_first_decade"),
        )
    )


SQL_ORDERS_BY_MONTH = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_value,
       count(CASE WHEN day(o_orderdate) <= 10 THEN 1 END) AS n_first_decade
FROM orders GROUP BY 1
"""


# ---------------------------------------------------------------------------
# §2.6 argmax / min-by
# ---------------------------------------------------------------------------

def q_brand_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by per group — closest-point-to-centroid / densest-cell
    argmax family.  Tie-proof ordering: integer score = cents*1e6 + partkey
    (exact in int64, unique per row)."""
    (part,) = _t(spark, sf_dir, "part")
    score = (
        F.round(F.col("p_retailprice") * 100).cast("long") * 1000000 + F.col("p_partkey")
    )
    return (
        part.select("p_brand", "p_partkey", "p_retailprice", score.alias("score"))
        .groupBy("p_brand")
        .agg(
            F.max_by("p_partkey", "score").alias("priciest_partkey"),
            F.min_by("p_partkey", "score").alias("cheapest_partkey"),
            F.round(F.max("p_retailprice"), 2).alias("max_price"),
            F.round(F.min("p_retailprice"), 2).alias("min_price"),
        )
    )


SQL_BRAND_ARGMAX = """
WITH s AS (
  SELECT p_brand, p_partkey, p_retailprice,
         CAST(round(p_retailprice * 100) AS BIGINT) * 1000000 + p_partkey AS score
  FROM part
)
SELECT p_brand,
       arg_max(p_partkey, score) AS priciest_partkey,
       arg_min(p_partkey, score) AS cheapest_partkey,
       round(max(p_retailprice), 2) AS max_price,
       round(min(p_retailprice), 2) AS min_price
FROM s GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# §2.5 trajectory angles (lead + atan2)
# ---------------------------------------------------------------------------

def q_trajectory_angles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yaw-from-trajectory and clamped pitch-from-slope over each user's
    event trail (windows.py::yaw_from_trajectory / pitch_from_slope —
    `transform_track.py:10-53`).  Both are single-window lead() expressions;
    the last row carries the previous value forward like the reference."""
    (events,) = _t(spark, sf_dir, "events")
    path = events.select(
        "user_id",
        F.col("event_id").alias("ord"),
        F.col("value").alias("x"),
        (F.col("event_id") % 100).cast("double").alias("y"),
        (F.col("event_id") % 7).cast("double").alias("z"),
    )
    out = win_ops.yaw_from_trajectory(path, "user_id", "ord")
    out = win_ops.pitch_from_slope(out, "user_id", "ord", min_pitch=-60.0, max_pitch=60.0)
    return out.select(
        "user_id",
        "ord",
        F.round("yaw", 6).alias("yaw"),
        F.round("pitch", 6).alias("pitch"),
    )


SQL_TRAJECTORY_ANGLES = """
WITH path AS (
  SELECT user_id, event_id AS ord, value AS x,
         CAST(event_id % 100 AS DOUBLE) AS y,
         CAST(event_id % 7 AS DOUBLE) AS z
  FROM events
), d AS (
  SELECT user_id, ord, x, y, z,
         lead(x) OVER w - x AS dx,
         lead(y) OVER w - y AS dy,
         lead(z) OVER w - z AS dz
  FROM path
  WINDOW w AS (PARTITION BY user_id ORDER BY ord)
), ang AS (
  SELECT user_id, ord,
         degrees(atan2(dy, dx)) AS yaw0,
         CASE WHEN dz IS NOT NULL
              THEN greatest(least(degrees(atan2(dz, sqrt(dx*dx + dy*dy))), 60.0), -60.0)
         END AS pitch0
  FROM d
)
SELECT user_id, ord,
       round(coalesce(yaw0,
                      last_value(yaw0 IGNORE NULLS)
                        OVER (PARTITION BY user_id ORDER BY ord
                              ROWS UNBOUNDED PRECEDING),
                      0.0), 6) AS yaw,
       round(coalesce(pitch0,
                      last_value(pitch0 IGNORE NULLS)
                        OVER (PARTITION BY user_id ORDER BY ord
                              ROWS UNBOUNDED PRECEDING),
                      0.0), 6) AS pitch
FROM ang
"""


# ---------------------------------------------------------------------------
# §2.5 extrinsic view-matrix export
# ---------------------------------------------------------------------------

def q_extrinsic_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame 4×4 view matrix [Rᵀ | −Rᵀt] from Euler poses
    (functions/geometry.py::with_extrinsics_expr — pure Column expressions,
    whole-stage codegen; measured 5x the Arrow pandas-UDF form, which remains
    as the differential cross-check) — `camera_exporter.py:253-306`.  Oracle
    reproduces the trig closed form (roll=0) column-by-column."""
    (events,) = _t(spark, sf_dir, "events")
    poses = events.select(
        F.col("event_id").alias("frame"),
        (F.col("value") * 100).alias("x"),
        ((F.col("event_id") % 100) * 10).cast("double").alias("y"),
        ((F.col("event_id") % 50) * 5).cast("double").alias("z"),
        ((F.col("event_id") % 120) - 60).cast("double").alias("pitch"),
        ((F.col("event_id") * 37) % 360 - 180).cast("double").alias("yaw"),
        F.lit(0.0).alias("roll"),
    )
    out = with_extrinsics_expr(poses)
    cols = [f"m{i}{j}" for i in range(3) for j in range(4)]
    # + 0.0 canonicalizes IEEE -0.0 to +0.0 (the trig products produce
    # -0.0 at yaw/pitch multiples of 90°; DuckDB and Spark disagree on
    # which side of zero they land, and value hashers see the sign bit).
    return out.select(
        "frame", *[(F.round(c, 6) + F.lit(0.0)).alias(c) for c in cols]
    )


SQL_EXTRINSIC_EXPORT = """
WITH poses AS (
  SELECT event_id AS frame,
         value * 100 AS x,
         CAST((event_id % 100) * 10 AS DOUBLE) AS y,
         CAST((event_id % 50) * 5 AS DOUBLE) AS z,
         radians(CAST((event_id % 120) - 60 AS DOUBLE)) AS p,
         radians(CAST((event_id * 37) % 360 - 180 AS DOUBLE)) AS yw
  FROM events
), t AS (
  SELECT frame, cos(p) AS cp, sin(p) AS sp, cos(yw) AS cy, sin(yw) AS sy,
         x * 0.01 AS tx, y * 0.01 AS ty, z * 0.01 AS tz
  FROM poses
)
SELECT frame,
       round(cy*cp, 6) + 0.0  AS m00,
       round(sy*cp, 6) + 0.0  AS m01,
       round(-sp, 6) + 0.0    AS m02,
       round(-(cy*cp*tx + sy*cp*ty - sp*tz), 6) + 0.0 AS m03,
       round(-sy, 6) + 0.0    AS m10,
       round(cy, 6) + 0.0     AS m11,
       CAST(0.0 AS DOUBLE) AS m12,
       round(sy*tx - cy*ty, 6) + 0.0 AS m13,
       round(cy*sp, 6) + 0.0  AS m20,
       round(sy*sp, 6) + 0.0  AS m21,
       round(cp, 6) + 0.0     AS m22,
       round(-(cy*sp*tx + sy*sp*ty + cp*tz), 6) + 0.0 AS m23
FROM t
"""


# ---------------------------------------------------------------------------
# §1.1 nested document export
# ---------------------------------------------------------------------------

def q_region_nation_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested child export — the scenes.json maps-per-scene nesting
    (`scene_scanner.py:539-574`) as one join + sorted collect_list, killing
    the reference's N+1 correlated scan."""
    nation, region = _t(spark, sf_dir, "nation", "region")
    j = region.join(
        F.broadcast(nation), F.col("r_regionkey") == F.col("n_regionkey"), "left"
    )
    return j.groupBy("r_name").agg(
        F.count("n_name").alias("n_nations"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
    )


SQL_REGION_NATION_NESTED = """
SELECT r_name,
       count(n_name) AS n_nations,
       coalesce(string_agg(n_name, ',' ORDER BY n_name), '') AS nations
FROM region LEFT JOIN nation ON r_regionkey = n_regionkey
GROUP BY r_name
"""


# ---------------------------------------------------------------------------
# §2.3 bucketed range join (scale path)
# ---------------------------------------------------------------------------

def q_value_band_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via the bucketed equi-join path
    (operators/joins.py::range_join with bucket_size): intervals explode to
    overlapped buckets, points hash-join on bucket, exact range filter after.
    At 100 TB this replaces the broadcast nested-loop with a shuffle hash
    join whose fan-out is bounded by span/bucket_size."""
    (events,) = _t(spark, sf_dir, "events")
    # Bounds are a SINGLE division of exact integers so Spark and the DuckDB
    # oracle hold bit-identical doubles.  (i*25.0 + 24.99 is NOT safe:
    # DuckDB folds it in DECIMAL — exactly 49.99 → 49.99000…02 as a double —
    # while Python's float add gives 49.98999…95; events landing in that
    # 2-ulp gap flipped the sf0.1 hash.)
    bands = literal_frame(
        events.sparkSession,
        [(i, (2500 * i) / 100.0, (2500 * i + 2499) / 100.0) for i in range(20)],
        "band_id int, lo double, hi double",
    )
    joined = join_ops.range_join(
        events.select("event_id", "value"),
        bands,
        point_col="value",
        start_col="lo",
        end_col="hi",
        bucket_size=25.0,
    )
    return joined.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        # DECIMAL accumulator: at sf0.5 band populations (~25k rows) the
        # double-sum accumulation-order drift crosses the round(2)
        # boundary (caught by the round-4 sf0.5 stress sweep)
        F.round(F.sum(F.col("value").cast("decimal(28,10)")), 2)
        .cast("double")
        .alias("total_value"),
    )


SQL_VALUE_BAND_BUCKETED = """
WITH bands AS (
  SELECT i AS band_id,
         CAST(2500 * i AS DOUBLE) / 100        AS lo,
         CAST(2500 * i + 2499 AS DOUBLE) / 100 AS hi
  FROM range(0, 20) t(i)
)
SELECT band_id, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,10))), 2) AS DOUBLE)
         AS total_value
FROM events JOIN bands ON value >= lo AND value <= hi
GROUP BY band_id
"""


# ---------------------------------------------------------------------------
# text fingerprinting + token estimation
# ---------------------------------------------------------------------------

def q_doc_fingerprint_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint (rolling md5 of normalized text), BPE-ish token
    estimate (regexp_count over word/digit/punct alternation) and stopword
    ratio — the text-analysis extension surface (operators/text.py)."""
    from .operators import text as text_ops

    (documents,) = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return documents.select(
        "doc_id",
        text_ops.fingerprint(t).alias("fingerprint"),
        text_ops.word_like_token_count(t).alias("n_word_tokens"),
        F.round(text_ops.stopword_ratio(t), 6).alias("stopword_ratio"),
    )


SQL_DOC_FINGERPRINT_TOKENS = """
WITH w AS (
  SELECT doc_id, text,
         string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
)
SELECT doc_id,
       md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
         AS n_word_tokens,
       round(CASE WHEN len(toks) = 0 THEN 0.0
             ELSE CAST(len(list_filter(toks,
                    x -> x IN ('the','and','of','to','in'))) AS DOUBLE)
                  / len(toks) END, 6) AS stopword_ratio
FROM w
"""


# ---------------------------------------------------------------------------
# §2.3 KNN self-join
# ---------------------------------------------------------------------------

def q_knn_user_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=4 nearest neighbours among per-user centroid points
    (operators/graph.py::knn_edges — `navmesh_connectivity.py:126-135`).
    Centroids first (one aggregate) so the exact self-join is over #users
    rows, the reference's own N; at corpus scale the LSH path replaces it."""
    from .operators import graph as graph_ops

    (events,) = _t(spark, sf_dir, "events")
    pts = (
        events.groupBy(F.col("user_id").alias("sample_id"))
        .agg(
            F.avg("value").alias("x"),
            F.avg(F.col("event_id") % 100).alias("y"),
        )
        .withColumn("z", F.lit(0.0))
    )
    # per-user centroids = one row per user (bounded aggregate output, the
    # reference's own N) — the documented constant-group override for
    # knn_edges' ungrouped-O(n²) guard
    pts = pts.withColumn("__g", F.lit(0))
    edges = graph_ops.knn_edges(pts, k=4, group_cols=["__g"])
    return edges.select("src", "dst", F.round("dist", 6).alias("dist"))


SQL_KNN_USER_CENTROIDS = """
WITH pts AS (
  SELECT user_id AS sample_id,
         avg(value) AS x,
         avg(event_id % 100) AS y,
         0.0 AS z
  FROM events GROUP BY user_id
), pairs AS (
  SELECT a.sample_id AS src, b.sample_id AS dst,
         sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z))
           AS dist
  FROM pts a JOIN pts b ON a.sample_id <> b.sample_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY src ORDER BY dist ASC, dst ASC) AS rn
  FROM pairs
)
SELECT src, dst, round(dist, 6) AS dist FROM ranked WHERE rn <= 4
"""


# ---------------------------------------------------------------------------
# §2.5 frame-grid generation + fixed-speed truncation
# ---------------------------------------------------------------------------

def q_frame_grid_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-grid generation (operators/windows.py::frame_grid —
    `worker_create.py:684-692`): sequence()+explode per input row, keyed
    time axis.  Summarized per region so the oracle output stays small."""
    (nation,) = _t(spark, sf_dir, "nation")
    seqs = nation.select(
        F.col("n_name").alias("sequence_id"),
        (F.col("n_nationkey") * 7 + 30).cast("int").alias("n_frames"),
    )
    grid = win_ops.frame_grid(seqs, "sequence_id", "n_frames", fps=30.0, interval=5)
    return grid.groupBy("sequence_id").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("frame").alias("last_frame"),
        F.round(F.sum("time_seconds"), 4).alias("sum_time"),
    )


SQL_FRAME_GRID_EXPAND = """
WITH seqs AS (
  SELECT n_name AS sequence_id, n_nationkey * 7 + 30 AS n_frames FROM nation
), grid AS (
  SELECT sequence_id, unnest(range(0, n_frames, 5)) AS frame FROM seqs
)
SELECT sequence_id, count(*) AS n_keys, max(frame) AS last_frame,
       round(sum(frame / 30.0), 4) AS sum_time
FROM grid GROUP BY sequence_id
"""


def q_fixed_speed_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-speed path truncation with boundary lerp
    (operators/windows.py::fixed_speed_truncate — `worker_create.py:585-674`):
    each user's event trail cut at speed*duration arc length; the synthetic
    half-index boundary vertex interpolates the crossing segment.  Cumsum
    windows + one filter — no Python.  Per-user summary for the oracle."""
    (events,) = _t(spark, sf_dir, "events")
    path = events.select(
        "user_id",
        F.col("event_id").alias("ord"),
        F.col("value").alias("x"),
        (F.col("event_id") % 100).cast("double").alias("y"),
        F.lit(0.0).alias("z"),
    )
    out = win_ops.fixed_speed_truncate(
        path, "user_id", "ord", speed=50.0, duration=10.0
    )
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.max("cum_dist"), 6).alias("final_dist"),
        F.round(F.sum("x"), 4).alias("sum_x"),
    )


SQL_FIXED_SPEED_TRUNCATE = """
WITH path AS (
  SELECT user_id, event_id AS ord, value AS x,
         CAST(event_id % 100 AS DOUBLE) AS y, 0.0 AS z
  FROM events
), seg AS (
  SELECT user_id, ord, x, y, z,
         sqrt(power(x - lag(x) OVER w, 2) + power(y - lag(y) OVER w, 2)
              + power(z - lag(z) OVER w, 2)) AS d
  FROM path WINDOW w AS (PARTITION BY user_id ORDER BY ord)
), cum AS (
  SELECT user_id, ord, x, y, z,
         coalesce(CAST(sum(CAST(d AS DECIMAL(28,12)))
                         OVER (PARTITION BY user_id ORDER BY ord
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE), 0.0)
           AS cum_dist,
         lead(x) OVER w2 AS nx, lead(y) OVER w2 AS ny, lead(z) OVER w2 AS nz
  FROM seg WINDOW w2 AS (PARTITION BY user_id ORDER BY ord)
), cum2 AS (
  SELECT *, lead(cum_dist) OVER (PARTITION BY user_id ORDER BY ord) AS next_cum
  FROM cum
), kept AS (
  SELECT user_id, CAST(ord AS DOUBLE) AS ord, cum_dist, x FROM cum2
  WHERE cum_dist <= 500.0
), boundary AS (
  SELECT user_id, ord + 0.5 AS ord, 500.0 AS cum_dist,
         x + (500.0 - cum_dist) / (next_cum - cum_dist) * (nx - x) AS x
  FROM cum2
  WHERE cum_dist <= 500.0 AND next_cum IS NOT NULL AND next_cum > 500.0
), allpts AS (
  SELECT * FROM kept UNION ALL SELECT * FROM boundary
)
SELECT user_id, count(*) AS n_points,
       round(max(cum_dist), 6) AS final_dist,
       round(sum(x), 4) AS sum_x
FROM allpts GROUP BY user_id
"""


def q_segment_clip_after_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior-segment clip/drop after fixed-speed truncation
    (operators/windows.py::clip_segments_after_truncation —
    `worker_create.py:536-582`): each user's synthetic 8-segment plan
    (25 points per segment) is adjusted against the truncated point count
    from fixed_speed_truncate; fully-out segments drop, the straddler's
    end clips to the last valid index."""
    (events,) = _t(spark, sf_dir, "events")
    path = events.select(
        "user_id",
        F.col("event_id").alias("ord"),
        F.col("value").alias("x"),
        (F.col("event_id") % 100).cast("double").alias("y"),
        F.lit(0.0).alias("z"),
    )
    trunc = win_ops.fixed_speed_truncate(
        path, "user_id", "ord", speed=50.0, duration=10.0
    )
    limits = trunc.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_points"))
    segments = limits.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("seg_no")
    ).select(
        "user_id",
        F.col("seg_no").cast("long").alias("seg_no"),
        (F.col("seg_no") * 25).cast("long").alias("start_idx"),
        (F.col("seg_no") * 25 + 24).cast("long").alias("end_idx"),
        F.when(F.col("seg_no") % 2 == 0, "walk").otherwise("scan").alias("seg_type"),
    )
    out = win_ops.clip_segments_after_truncation(
        segments, limits, "user_id", "n_points"
    )
    return out.select("user_id", "seg_no", "seg_type", "start_idx", "end_idx")


SQL_SEGMENT_CLIP_AFTER_TRUNCATE = """
WITH path AS (
  SELECT user_id, event_id AS ord, value AS x,
         CAST(event_id % 100 AS DOUBLE) AS y, 0.0 AS z
  FROM events
), seg AS (
  SELECT user_id, ord, x, y, z,
         sqrt(power(x - lag(x) OVER w, 2) + power(y - lag(y) OVER w, 2)
              + power(z - lag(z) OVER w, 2)) AS d
  FROM path WINDOW w AS (PARTITION BY user_id ORDER BY ord)
), cum AS (
  SELECT user_id, ord,
         coalesce(CAST(sum(CAST(d AS DECIMAL(28,12)))
                         OVER (PARTITION BY user_id ORDER BY ord
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE), 0.0)
           AS cum_dist
  FROM seg
), cum2 AS (
  SELECT *, lead(cum_dist) OVER (PARTITION BY user_id ORDER BY ord) AS next_cum
  FROM cum
), limits AS (
  SELECT user_id,
         count(*) FILTER (cum_dist <= 500.0)
         + count(*) FILTER (cum_dist <= 500.0 AND next_cum IS NOT NULL
                            AND next_cum > 500.0) AS n_points
  FROM cum2 GROUP BY user_id
), segs AS (
  SELECT user_id, k AS seg_no, k * 25 AS start_idx, k * 25 + 24 AS end_idx,
         CASE WHEN k % 2 = 0 THEN 'walk' ELSE 'scan' END AS seg_type
  FROM limits, unnest(generate_series(0, 7)) AS t(k)
)
SELECT s.user_id, seg_no, seg_type, start_idx,
       least(end_idx, l.n_points - 1) AS end_idx
FROM segs s JOIN limits l USING (user_id)
WHERE start_idx <= l.n_points - 1
"""


# ---------------------------------------------------------------------------
# §2.4 ratio classification, §2.3 prefix theta-join
# ---------------------------------------------------------------------------

def q_terrain_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-threshold classification per group
    (operators/aggregates.py::ratio_classify — the terrain 'Plain'/'Valley'
    call at `navmesh_injector.py:324-340`): per event_type, fraction of
    events with value > 100 → label."""
    from .operators import aggregates as agg_ops

    (events,) = _t(spark, sf_dir, "events")
    out = agg_ops.ratio_classify(
        events,
        ["event_type"],
        F.col("value") > 100.0,
        threshold=0.5,
        label_true="high",
        label_false="low",
    )
    return out.select("event_type", F.round("ratio", 6).alias("ratio"), "label")


SQL_TERRAIN_CLASSIFY = """
SELECT event_type,
       round(avg(CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END), 6) AS ratio,
       CASE WHEN avg(CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END) > 0.5
            THEN 'high' ELSE 'low' END AS label
FROM events GROUP BY event_type
"""


def q_prefix_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix theta-join (operators/joins.py::prefix_join — the sequence→map
    `Demo` → `Demo001` matching, `run_render_job_headless.py:636-650`):
    part names matched to a broadcast dim of name prefixes."""
    (part,) = _t(spark, sf_dir, "part")
    prefixes = literal_frame(
        spark, [("small",), ("red",), ("blue",), ("gre",)], "prefix string"
    )
    j = join_ops.prefix_join(
        part.select("p_partkey", "p_name", "p_retailprice"),
        prefixes,
        "p_name",
        "prefix",
    )
    return j.groupBy("prefix").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.sum("p_retailprice"), 2).alias("total_price"),
    )


SQL_PREFIX_JOIN_PARTS = """
WITH prefixes(prefix) AS (VALUES ('small'), ('red'), ('blue'), ('gre'))
SELECT prefix, count(*) AS n_parts, round(sum(p_retailprice), 2) AS total_price
FROM part JOIN prefixes ON starts_with(p_name, prefix)
GROUP BY prefix
"""


# ---------------------------------------------------------------------------
# TF-IDF (LLM-pipeline text surface)
# ---------------------------------------------------------------------------

def q_doc_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (operators/text.py::tfidf_terms) —
    tokenize → tf → df → idf, then a ranking window; deterministic tiebreak
    on term."""
    from .operators.text import tfidf_terms

    (documents,) = _t(spark, sf_dir, "documents")
    scored = tfidf_terms(documents, "text", "doc_id")
    ranked = join_ops.top_k_per_group(
        scored,
        ["id"],
        [F.col("tfidf").desc(), F.col("term").asc()],
        k=3,
        rank_col="rank",
    )
    return ranked.select(
        F.col("id").alias("doc_id"),
        "term",
        "tf",
        F.round("tfidf", 6).alias("tfidf"),
        "rank",
    )


SQL_DOC_TFIDF_TOPTERMS = """
WITH tokens AS (
  SELECT doc_id AS id,
         unnest(list_filter(
           string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' '),
           t -> t <> '')) AS term
  FROM documents
), tf AS (
  SELECT id, term, count(*) AS tf FROM tokens GROUP BY id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT id, term, tf, tf * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf
  FROM tf JOIN dfreq USING (term), n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id
                               ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT id AS doc_id, term, tf, round(tfidf, 6) AS tfidf, rank
FROM ranked WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# §2.5 max-index scan
# ---------------------------------------------------------------------------

def q_max_index_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-sequence-index derivation (catalog/registry.py::next_sequence_index
    — `worker_create.py:175-194`): max numeric suffix of `{name}_NNN` assets
    per brand + 1.  Asset names synthesized deterministically from part."""
    (part,) = _t(spark, sf_dir, "part")
    assets = part.select(
        "p_brand",
        F.concat(
            F.regexp_replace(F.col("p_name"), " ", ""),
            F.lit("_"),
            F.lpad((F.col("p_partkey") % 997).cast("string"), 3, "0"),
        ).alias("asset_name"),
    )
    suffix = F.regexp_extract(F.col("asset_name"), r"_(\d+)$", 1).cast("int")
    return assets.groupBy("p_brand").agg(
        (F.max(suffix) + 1).alias("next_index"),
        F.count(F.lit(1)).alias("n_assets"),
    )


SQL_MAX_INDEX_SCAN = """
WITH assets AS (
  SELECT p_brand,
         concat(replace(p_name, ' ', ''), '_',
                lpad(CAST(p_partkey % 997 AS VARCHAR), 3, '0')) AS asset_name
  FROM part
)
SELECT p_brand,
       max(CAST(regexp_extract(asset_name, '_(\\d+)$', 1) AS INT)) + 1
         AS next_index,
       count(*) AS n_assets
FROM assets GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# §2.9 connected components (oracle-checkable variant)
# ---------------------------------------------------------------------------

def q_user_event_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on the user↔event star graph
    (operators/graph.py::connected_components — `navmesh_connectivity.py:158-180`).

    Component labels (min node id per component) are algorithm-independent,
    so the iterative Spark fixpoint is exactly checkable against a DuckDB
    recursive-CTE min-label closure.  Uses the engine default
    (``connected_components`` = the large-star/small-star kernel — bounded
    rounds can't silently under-merge regardless of graph diameter); the
    deeper-graph behavior is covered by tests/test_graph.py and the
    rows-only connected_components entry."""
    from .operators import graph as graph_ops

    (events,) = _t(spark, sf_dir, "events")
    # Disjoint parity encoding (2k user / 2k+1 event) — an offset encoding
    # collides once event_id reaches the offset at large scale factors.
    edges = events.select(
        (F.col("user_id") * 2).alias("src"),
        (F.col("event_id") * 2 + 1).alias("dst"),
    ).distinct()
    comps = graph_ops.connected_components(edges)
    return comps.groupBy("component").agg(F.count(F.lit(1)).alias("size"))


SQL_USER_EVENT_COMPONENTS = """
WITH RECURSIVE e AS (
  SELECT DISTINCT 2 * user_id AS src, 2 * event_id + 1 AS dst FROM events
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


# ---------------------------------------------------------------------------
# §2.8 MERGE upsert
# ---------------------------------------------------------------------------

def q_catalog_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert semantics (operators/reconcile.py::merge_upsert —
    `scene_registry.py:224-239`): customer catalog updated from an
    orders-derived source; matching rows take the source balance, unmatched
    keep theirs, source-only keys insert.  Summarized per mktsegment (the
    full merged relation is the sink in production; aggregating keeps the
    oracle comparison small)."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    from .operators.reconcile import merge_upsert

    base = customer.select("c_custkey", "c_mktsegment", "c_acctbal")
    updates = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("c_acctbal"))
        .withColumn("c_mktsegment", F.lit("MERGED"))
    )
    merged = merge_upsert(base, updates, ["c_custkey"], update_cols=["c_acctbal"])
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


SQL_CATALOG_UPSERT = """
WITH updates AS (
  SELECT o_custkey AS c_custkey,
         round(sum(o_totalprice), 2) AS c_acctbal
  FROM orders GROUP BY 1
), merged AS (
  SELECT coalesce(b.c_custkey, u.c_custkey) AS c_custkey,
         coalesce(u.c_acctbal, b.c_acctbal) AS c_acctbal,
         b.c_mktsegment
  FROM customer b FULL OUTER JOIN updates u USING (c_custkey)
)
SELECT c_mktsegment, count(*) AS n_rows, round(sum(c_acctbal), 2) AS total_bal
FROM merged GROUP BY c_mktsegment
"""


def q_persistent_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTENT versioned MERGE driven end-to-end
    (operators/reconcile.py::merge_upsert_parquet): base slice written as a
    parquet table, then two successive merges — each materializing a new
    ``_v`` directory behind the atomic ``_CURRENT`` pointer commit under
    the single-writer lease — and the final table summarized per segment
    WITH the live version name, so the oracle checks the whole
    write→merge→merge→pointer-resolve protocol, not just the join algebra.
    Balances accumulate as DECIMAL(18,2) so no float-summation caveats.
    Reference analog: SQLite upsert commits (`scene_registry.py:224-239`)."""
    import shutil
    import tempfile

    from .operators.reconcile import (
        _table_current_version,
        merge_upsert_parquet,
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
    tmp = tempfile.mkdtemp(prefix="merge_audit_")
    try:
        path = f"{tmp}/tbl"
        base.write.parquet(path)
        merge_upsert_parquet(
            spark, path, src1, ["c_custkey"],
            update_cols=["c_acctbal", "c_mktsegment"],
        )
        final = merge_upsert_parquet(
            spark, path, src2, ["c_custkey"],
            update_cols=["c_acctbal", "c_mktsegment"],
        )
        version = _table_current_version(path) or ""
        rows = (
            final.groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(
                    F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                    .cast("double"),
                    2,
                ).alias("total_bal"),
            )
            .withColumn("version", F.lit(version))
            .collect()  # materialize BEFORE the table directory is removed
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return literal_frame(
        spark,
        rows, "c_mktsegment string, n_rows long, total_bal double, version string"
    )


SQL_PERSISTENT_MERGE_AUDIT = """
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
)
SELECT c_mktsegment,
       count(*) AS n_rows,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_bal,
       '_v00000002' AS version
FROM m2 GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# large multi-join plans (fact-fact shuffle joins + broadcast dims)
# ---------------------------------------------------------------------------

def q_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped plan: two fact tables (orders ⋈ lineitem) shuffle-join
    on orderkey after selective pushed-down filters; customer dim broadcast.
    The revenue top-10 is a global sort of a small aggregate — driver-safe."""
    customer, orders, lineitem = _t(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1995-03-15").cast("timestamp")
    c = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = orders.filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    l = lineitem.filter(F.col("l_shipdate") > cutoff).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
        # DECIMAL accumulator (verify-skill float rule): a double sum's
        # last-ulp depends on accumulation order, and at sf1.0 the
        # penny-rounded revenues diverged between engines (r7 ladder catch)
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(28,8)")
                ).cast("double"),
                2,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


SQL_TOP_UNSHIPPED_ORDERS = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DOUBLE), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star: lineitem fact shuffle-joined to orders, all four
    dims (supplier, customer, nation, region) broadcast.  Exercises join
    reordering + broadcast planning over the full schema."""
    customer, orders, lineitem, supplier, nation, region = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    j = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    # DECIMAL accumulator on both sides — same r7 sf1.0-ladder catch as
    # top_unshipped_orders (order-dependent double-sum ulp at 10x rows).
    # Round the DECIMAL, then cast: a half-cent tie is exact there, while
    # the two engines round the nearest DOUBLE to it differently.
    return j.groupBy("r_name", "n_name").agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(28,8)"
                )
            ),
            2,
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


SQL_SUPPLIER_VOLUME = """
SELECT r_name, n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# seeded simulation — oracle-checked via full recursive-CTE replay
# ---------------------------------------------------------------------------

def _sim_replay_cte(
    jobs: list[tuple[str, int]],
    n_segments: int,
    steps: int,
    bounds: tuple[float, float, float, float] = (-5000.0, -5000.0, 5000.0, 5000.0),
    speed: float = 100.0,
) -> str:
    """DuckDB CTE chain replaying operators/simulate.py::simulate_sequence
    BIT-IDENTICALLY: the explicit 31-bit LCG, the cumulative-weight behavior
    pick, the per-step walk (cos/sin on the same libm doubles), the bounds/
    failure/abort machinery, and the reference's overwrite rule for
    segment ownership of boundary points.

    Produces CTEs: ``sim`` (one row per processed step, emitted pose when
    ``app``), ``pts`` (all points), ``segs`` (entered segments with their
    start index and behavior code), ``pseg`` (points with their OWNING
    segment: the last segment whose start_idx <= point_idx — the
    later-assignment-wins rule of the generator's seg_of array).

    Replayability is the reason the simulator uses an explicit LCG and pure
    IEEE add/mul updates (see operators/simulate.py docstring); the probe
    that cos/sin/floor round identically across engines on this box is in
    the verify notes.
    """
    names, cums = sim_gen.cum_bounds(sim_gen.DEFAULT_WEIGHTS)
    a, c, m = sim_gen.LCG_A, sim_gen.LCG_C, sim_gen.LCG_M
    xmin, ymin, xmax, ymax = bounds
    x0, y0 = (xmin + xmax) / 2.0, (ymin + ymax) / 2.0
    total = n_segments * steps
    job_rows = ", ".join(
        f"('{s}', CAST({seed} AS BIGINT))" for s, seed in jobs
    )
    pick = " ".join(
        f"WHEN ub < {cums[k]!r} THEN {k}" for k in range(len(cums) - 1)
    )
    return f"""
jobs(sequence_id, seed) AS (VALUES {job_rows}),
sim AS (
  SELECT sequence_id,
         -1 AS g,
         (seed * {a} + {c}) % {m} AS st,
         -1 AS seg,
         -1 AS beh,
         CAST({x0!r} AS DOUBLE) AS x,
         CAST({y0!r} AS DOUBLE) AS y,
         -180.0 + 360.0 * (CAST((seed * {a} + {c}) % {m} AS DOUBLE)
                           / {float(m)!r}) AS yaw,
         CAST(0.0 AS DOUBLE) AS pitch,
         0 AS fails,
         FALSE AS ab,
         0 AS pidx,
         TRUE AS app
  FROM jobs
  UNION ALL
  SELECT sequence_id, g1, stf, seg1, beh1,
         x2, y2, yaw2, pitch2, fails2, ab2, pidx2, app2
  FROM (
    SELECT s.sequence_id,
           s.g + 1 AS g1,
           CAST((s.g + 1) // {steps} AS INTEGER) AS seg1,
           ((s.g + 1) % {steps} = 0) AS newseg,
           CASE WHEN ((s.g + 1) % {steps} = 0)
                THEN (s.st * {a} + {c}) % {m} ELSE s.st END AS stb,
           CAST(stb AS DOUBLE) / {float(m)!r} AS ub,
           CASE WHEN newseg
                THEN (CASE {pick} ELSE {len(cums) - 1} END)
                ELSE s.beh END AS beh1,
           (stb * {a} + {c}) % {m} AS st1,
           CAST(st1 AS DOUBLE) / {float(m)!r} AS u1,
           (st1 * {a} + {c}) % {m} AS st2,
           CAST(st2 AS DOUBLE) / {float(m)!r} AS u2,
           CASE beh1 WHEN 6 THEN st2 WHEN 0 THEN st1 ELSE stb END AS stf,
           CASE beh1
             WHEN 0 THEN s.yaw + (-45.0 + 90.0 * u1)
             WHEN 1 THEN s.yaw
             WHEN 2 THEN s.yaw + 180.0
             WHEN 3 THEN s.yaw - 90.0
             WHEN 4 THEN s.yaw + 90.0
             ELSE 0.0 END AS hd,
           (beh1 NOT IN (5, 6)) AS moving,
           s.x + {speed!r} * cos(hd * (pi() / 180.0)) AS nx,
           s.y + {speed!r} * sin(hd * (pi() / 180.0)) AS ny,
           (nx >= {xmin!r} AND nx <= {xmax!r}
            AND ny >= {ymin!r} AND ny <= {ymax!r}) AS inb,
           CASE WHEN moving AND inb THEN nx ELSE s.x END AS x2,
           CASE WHEN moving AND inb THEN ny ELSE s.y END AS y2,
           s.yaw + (-15.0 + 30.0 * u1) AS ry,
           CASE WHEN beh1 = 6 THEN
                  (CASE WHEN ry >= 180.0 THEN ry - 360.0
                        WHEN ry < -180.0 THEN ry + 360.0
                        ELSE ry END)
                WHEN beh1 = 0 AND inb THEN
                  (CASE WHEN hd >= 180.0 THEN hd - 360.0
                        WHEN hd < -180.0 THEN hd + 360.0
                        ELSE hd END)
                ELSE s.yaw END AS yaw2,
           CASE WHEN beh1 = 6
                THEN greatest(-80.0, least(80.0, s.pitch + (-3.0 + 6.0 * u2)))
                ELSE s.pitch END AS pitch2,
           CASE WHEN moving AND NOT inb THEN s.fails + 1
                WHEN moving THEN 0
                ELSE s.fails END AS fails2,
           (moving AND NOT inb
            AND s.fails + 1 >= {sim_gen.MAX_CONSECUTIVE_FAILURES}) AS ab2,
           ((NOT moving) OR inb) AS app2,
           CASE WHEN ((NOT moving) OR inb)
                THEN s.pidx + 1 ELSE s.pidx END AS pidx2
    FROM sim s
    WHERE NOT s.ab AND s.g + 1 < {total}
  )
),
pts AS (
  SELECT sequence_id, pidx, x, y, yaw, pitch FROM sim WHERE app
),
segs AS (
  SELECT sequence_id, seg,
         min(pidx - CASE WHEN app THEN 1 ELSE 0 END) AS start_idx,
         min(beh) AS beh
  FROM sim WHERE seg >= 0 GROUP BY sequence_id, seg
),
pseg AS (
  SELECT p.sequence_id, p.pidx, p.x, p.y, p.yaw, p.pitch,
         max(s.seg) AS seg_of
  FROM pts p JOIN segs s
    ON s.sequence_id = p.sequence_id AND s.start_idx <= p.pidx
  GROUP BY p.sequence_id, p.pidx, p.x, p.y, p.yaw, p.pitch
)"""


# the eight (sequence_id, seed) jobs that simulate_trajectories and
# simulate_contract run, and the oracle replays
_SIM_JOBS = [(f"seq_{i:03d}", 1000 + i) for i in range(8)]

_SIM_BEHAVIOR_NAME_CASE = (
    "CASE s.beh WHEN 0 THEN 'random_roam' WHEN 1 THEN 'translate_forward'"
    " WHEN 2 THEN 'translate_backward' WHEN 3 THEN 'translate_left'"
    " WHEN 4 THEN 'translate_right' WHEN 5 THEN 'idle' ELSE 'rotate' END"
)


def q_simulate_trajectories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded behavior simulation fan-out (operators/simulate.py) — one task
    per (sequence_id, seed) job row, deterministic per seed; summarized per
    sequence.  Oracle-checked since r4: the explicit-LCG generator replays
    as a DuckDB recursive CTE (_sim_replay_cte) bit-identically."""
    jobs = literal_frame(spark, _SIM_JOBS, "sequence_id string, seed long")
    poses = sim_gen.simulate_jobs(jobs, n_segments=6, steps_per_segment=20)
    return (
        poses.groupBy("sequence_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.countDistinct("seg_idx").alias("n_segments"),
            F.round(F.max("x") - F.min("x"), 4).alias("x_span"),
            F.max(F.col("aborted").cast("int")).alias("aborted"),
        )
    )


SQL_SIMULATE_TRAJECTORIES = (
    "WITH RECURSIVE "
    + _sim_replay_cte(
        _SIM_JOBS,
        n_segments=6,
        steps=20,
    )
    + """
SELECT p.sequence_id,
       count(*) AS n_points,
       count(DISTINCT p.seg_of) AS n_segments,
       round(max(p.x) - min(p.x), 4) AS x_span,
       CAST(max(a.abt) AS INTEGER) AS aborted
FROM pseg p
JOIN (SELECT sequence_id, max(CASE WHEN ab THEN 1 ELSE 0 END) AS abt
      FROM sim GROUP BY sequence_id) a USING (sequence_id)
GROUP BY p.sequence_id
"""
)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column pipeline (operators/multimodal.py): documents →
    REAL media containers cycling on doc_id % 3 (0 → 8-bit grayscale BMP,
    1 → 8-bit PCM WAV, 2 → 8-bit grayscale PNG; stdlib/numpy codecs, no
    external libs) → Arrow-batched mapInPandas decode + feature
    extraction.  The BMP/WAV/PNG parsers run genuinely (headers, palette,
    row padding, RIFF chunk walk, zlib inflate + scanline unfilter), and
    because encode→decode round-trips the text bytes exactly, every
    feature is restatable per character by the DuckDB oracle — the same
    contract style as multimodal_features_checked, now over real
    containers."""
    from .operators import multimodal as mm

    (documents,) = _t(spark, sf_dir, "documents")
    media = mm.synthesize_media(documents, "doc_id", "text", container="alternate")
    feats = mm.extract_features(media)
    return (
        feats.join(
            media.select("media_id", F.col("meta.format").alias("format")),
            "media_id",
        )
        .select(
            "media_id",
            "format",
            "n_bytes",
            F.round(F.col("mean_intensity"), 4).alias("mean_b"),
            F.round(F.col("std_intensity"), 4).alias("std_b"),
            F.col("histogram_mode").cast("long").alias("mode_b"),
        )
    )


SQL_MULTIMODAL_FEATURES = """
WITH idx AS (
  SELECT doc_id, text, unnest(generate_series(1, len(text))) AS i
  FROM documents
), chars AS (
  SELECT doc_id, ascii(substring(text, i, 1)) AS b FROM idx
), counts AS (
  SELECT doc_id, b, count(*) AS c FROM chars GROUP BY doc_id, b
), mx AS (
  SELECT doc_id, b, c, max(c) OVER (PARTITION BY doc_id) AS cmax FROM counts
), stats AS (
  SELECT doc_id,
         count(*) AS n_bytes,
         round(avg(b), 4) AS mean_b,
         round(sqrt(avg(CAST(b AS DOUBLE) * b) - avg(b) * avg(b)), 4)
           AS std_b
  FROM chars GROUP BY doc_id
), modes AS (
  SELECT doc_id, min(b) AS mode_b FROM mx WHERE c = cmax GROUP BY doc_id
)
SELECT s.doc_id AS media_id,
       CASE s.doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav'
            ELSE 'png' END AS format,
       s.n_bytes, s.mean_b, s.std_b,
       CAST(m.mode_b AS BIGINT) AS mode_b
FROM stats s JOIN modes m USING (doc_id)
"""


def q_jpeg_roundtrip_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-JPEG codec contract as a driver-checkable registry entry
    (VERDICT r5 item 10, beyond the pytest goldens): every document with
    >= 256 utf-8 bytes turns its first 256 bytes into a 16×16 grayscale
    image (4 MCU blocks — multi-block huffman state, DC prediction across
    blocks), rides a REAL encode→decode round trip through the
    stdlib+numpy baseline codec (operators/multimodal.py::
    jpeg_roundtrip_audit, all-ones quantization), and reports the
    properties a correct codec must satisfy: JFIF container magic and
    max |decoded − original| ≤ 3 per pixel — the analytically CERTIFIED
    Q=1 envelope (coefficient rounding ≤ 0.5, IDCT gain ≤ 0.5·2.642² =
    3.49, final rounding ≤ 0.5; see jpeg_roundtrip_audit), chosen over
    the empirical corpus max (|Δ|=2, found by the sf1.0 ladder on one
    doc in 29 213) so the contract can never flake on a new corpus while
    still failing hard on any real codec bug.  The oracle supplies the
    expected booleans per qualifying doc,
    so a codec regression — wrong huffman table, bad byte-unstuffing, an
    IDCT scale slip — hash-fails the round.  The kcore_contract style:
    non-SQL-expressible computation, SQL-expressible result contract."""
    from .operators import multimodal as mm

    (documents,) = _t(spark, sf_dir, "documents")
    return mm.jpeg_roundtrip_audit(documents, "doc_id", "text", side=16)


SQL_JPEG_ROUNDTRIP_CONTRACT = """
SELECT doc_id,
       CAST(256 AS BIGINT) AS n_pixels,
       TRUE AS is_jfif,
       TRUE AS max_err_le_3
FROM documents
WHERE strlen(text) >= 256
"""


def q_jpeg420_roundtrip_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:0-subsampled COLOR JPEG codec contract (VERDICT r6 item 5 —
    the single most common real-world JPEG shape; the reference's media
    pipeline emits ``yuv420p``, `convert_frames_to_video.py:57-129`):
    every document with >= 256 utf-8 bytes becomes a 16×16 gray image
    replicated to RGB, rides a REAL ``encode_jpeg_rgb24("4:2:0")`` →
    ``_decode_jpeg`` round trip — one interleaved 16×16 MCU: 4 luma
    blocks + 2 box-averaged chroma blocks, nearest-neighbor upsampling on
    decode — and reports the certified properties: JFIF magic, the SOF0
    luma sampling byte is genuinely 0x22, and max |Δ| ≤ 3 per RGB sample
    (gray input pins both chroma planes to an exact constant 128, so the
    analytic Q=1 luma envelope carries over unchanged; see
    operators/multimodal.py::jpeg420_roundtrip_audit for the derivation).
    The oracle supplies the expected booleans per qualifying doc, so an
    MCU-order slip, swapped chroma block, or broken upsampler hash-fails
    the round."""
    from .operators import multimodal as mm

    (documents,) = _t(spark, sf_dir, "documents")
    return mm.jpeg420_roundtrip_audit(documents, "doc_id", "text", side=16)


SQL_JPEG420_ROUNDTRIP_CONTRACT = """
SELECT doc_id,
       CAST(256 AS BIGINT) AS n_pixels,
       TRUE AS is_jfif,
       TRUE AS sof_is_420,
       TRUE AS max_err_le_3
FROM documents
WHERE strlen(text) >= 256
"""


def q_jpeg_restart_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restart-interval JPEG codec contract (round 7 — the DRI/RSTm
    resync layout most camera/ffmpeg baseline JPEGs carry): every
    document with >= 256 utf-8 bytes becomes a 16×16 gray image and rides
    a REAL ``encode_jpeg_gray8(restart_interval=2)`` → ``_decode_jpeg``
    round trip — 4 MCUs, an RST0 marker mid-scan, DC predictors reset and
    the marker cycle verified on decode.  Reports JFIF magic, genuine
    restart presence (DRI segment + an RSTm in the scan), and the same
    certified |Δ| ≤ 3 Q=1 grayscale envelope as jpeg_roundtrip_contract
    (restarts only byte-align and reset predictors — no new quantization
    term; see operators/multimodal.py::jpeg_restart_roundtrip_audit).
    The oracle supplies the expected booleans per qualifying doc, so a
    predictor that fails to reset or a marker-cycle slip hash-fails the
    round."""
    from .operators import multimodal as mm

    (documents,) = _t(spark, sf_dir, "documents")
    return mm.jpeg_restart_roundtrip_audit(
        documents, "doc_id", "text", side=16, restart_interval=2
    )


SQL_JPEG_RESTART_CONTRACT = """
SELECT doc_id,
       CAST(256 AS BIGINT) AS n_pixels,
       TRUE AS is_jfif,
       TRUE AS has_restarts,
       TRUE AS max_err_le_3
FROM documents
WHERE strlen(text) >= 256
"""


def q_jpeg_progressive_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive-JPEG codec contract (round 7 — SOF2 multi-scan decode,
    the last common real-media JPEG shape): every document with >= 256
    utf-8 bytes becomes a 16×16 gray image encoded through the REAL
    four-phase successive-approximation progressive encoder (DC first
    Al=1, DC refine, per-component AC first Al=1, AC refine) and through
    the baseline encoder; the contract pins that the progressive decode
    is BIT-IDENTICAL to the sequential decode (successive approximation
    reconstructs every quantized coefficient exactly), plus the SOF2
    marker and the inherited |Δ| ≤ 3 envelope.  See
    operators/multimodal.py::jpeg_progressive_roundtrip_audit."""
    from .operators import multimodal as mm

    (documents,) = _t(spark, sf_dir, "documents")
    return mm.jpeg_progressive_roundtrip_audit(
        documents, "doc_id", "text", side=16
    )


SQL_JPEG_PROGRESSIVE_CONTRACT = """
SELECT doc_id,
       CAST(256 AS BIGINT) AS n_pixels,
       TRUE AS is_sof2,
       TRUE AS matches_sequential,
       TRUE AS max_err_le_3
FROM documents
WHERE strlen(text) >= 256
"""


def q_jpeg_lossless_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless-JPEG codec contract (round 8 — SOF3 Annex-H predictive,
    the only JPEG process with EXACT round-trips; the DICOM/archival
    shape): every document with >= 256 utf-8 bytes becomes a 16×16 gray
    image encoded with ALL 7 predictors plus a text-derived RGB image,
    and the contract pins exact byte equality on every decode — any
    prediction, residual, or component-interleave bug breaks it
    outright.  See operators/multimodal.py::jpeg_lossless_roundtrip_audit."""
    from .operators import multimodal as mm

    (documents,) = _t(spark, sf_dir, "documents")
    return mm.jpeg_lossless_roundtrip_audit(documents, "doc_id", "text", side=16)


SQL_JPEG_LOSSLESS_CONTRACT = """
SELECT doc_id,
       CAST(256 AS BIGINT) AS n_pixels,
       TRUE AS is_sof3,
       TRUE AS gray_exact_all_predictors,
       TRUE AS rgb_exact
FROM documents
WHERE strlen(text) >= 256
"""


def q_jpeg_hierarchical_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical-JPEG codec contract (round 9 — T.81 Annex J
    DHP/EXP/SOF7 lossless pyramids, the progressive-resolution
    transmission shape): every document with >= 256 utf-8 bytes becomes
    a 16×16 gray image encoded at levels 1-3 plus a text-derived RGB
    image at levels=2, and the contract pins exact byte equality on
    every decode — the final differential frame corrects the reference
    to the exact input, so any expansion (normative J.1.1.2 bilinear),
    residual, or frame-sequencing bug breaks it outright.  See
    operators/multimodal.py::jpeg_hierarchical_roundtrip_audit."""
    from .operators import multimodal as mm

    (documents,) = _t(spark, sf_dir, "documents")
    return mm.jpeg_hierarchical_roundtrip_audit(
        documents, "doc_id", "text", side=16
    )


SQL_JPEG_HIERARCHICAL_CONTRACT = """
SELECT doc_id,
       CAST(256 AS BIGINT) AS n_pixels,
       TRUE AS is_dhp,
       TRUE AS gray_exact_all_levels,
       TRUE AS rgb_exact
FROM documents
WHERE strlen(text) >= 256
"""


def q_png_palette_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG palette/Adam7 codec contract (round 9 — color-type-3 paletted
    images at bit depth 1/4/8 and the Adam7 seven-pass interlace, both
    directions): every document with >= 256 utf-8 bytes drives six
    encode/decode round-trips (identity-gray, 16-step-ramp and
    black/white palettes, plain and interlaced) whose expected output is
    closed-form from the raw bytes — exact equality pinned.  See
    operators/multimodal.py::png_palette_roundtrip_audit."""
    from .operators import multimodal as mm

    (documents,) = _t(spark, sf_dir, "documents")
    return mm.png_palette_roundtrip_audit(documents, "doc_id", "text", side=16)


SQL_PNG_PALETTE_CONTRACT = """
SELECT doc_id,
       CAST(256 AS BIGINT) AS n_pixels,
       TRUE AS palette_adam7_exact
FROM documents
WHERE strlen(text) >= 256
"""


def q_png_full_surface_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG full-critical-surface codec contract (round 10 — every
    IHDR-legal color-type × bit-depth combination: gray 1/2/4/8/16,
    truecolor 8/16, gray+alpha 8/16, RGBA 8/16, plain AND Adam7): every
    document with >= 256 utf-8 bytes drives 22 encode/decode round-trips
    whose expected output is closed-form from the raw bytes — sub-byte
    gray by bit-replication scaling, depth 16 by high-byte reduction
    with deliberately nonzero low bytes, multi-channel interleaved —
    exact equality pinned.  See
    operators/multimodal.py::png_full_surface_roundtrip_audit."""
    from .operators import multimodal as mm

    (documents,) = _t(spark, sf_dir, "documents")
    return mm.png_full_surface_roundtrip_audit(
        documents, "doc_id", "text", side=16
    )


SQL_PNG_FULL_SURFACE_CONTRACT = """
SELECT doc_id,
       CAST(256 AS BIGINT) AS n_pixels,
       TRUE AS full_surface_exact
FROM documents
WHERE strlen(text) >= 256
"""


def q_wav_pcm_surface_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV integer-PCM surface contract (round 10 — 8/16/24/32-bit PCM,
    mono and stereo): every document with >= 256 utf-8 bytes drives 8
    encode/decode round-trips whose expected output is closed-form from
    the raw bytes — each depth plants the byte in the TOP byte of the
    offset-binary value with nonzero low bytes, so the standard PCM
    bit-depth reduction must recover it exactly.  See
    operators/multimodal.py::wav_pcm_surface_roundtrip_audit."""
    from .operators import multimodal as mm

    (documents,) = _t(spark, sf_dir, "documents")
    return mm.wav_pcm_surface_roundtrip_audit(documents, "doc_id", "text")


SQL_WAV_PCM_SURFACE_CONTRACT = """
SELECT doc_id,
       CAST(256 AS BIGINT) AS n_samples,
       TRUE AS pcm_surface_exact
FROM documents
WHERE strlen(text) >= 256
"""


def q_bmp_surface_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP classic-surface codec contract (round 10 — indexed 1/4/8-bit
    with MSB-first sub-byte packing, BI_RLE8 on both run-heavy and
    high-entropy inputs): every document with >= 256 utf-8 bytes
    drives 5 encode/decode round-trips whose expected output is
    closed-form from the raw bytes — exact equality pinned.  See
    operators/multimodal.py::bmp_surface_roundtrip_audit."""
    from .operators import multimodal as mm

    (documents,) = _t(spark, sf_dir, "documents")
    return mm.bmp_surface_roundtrip_audit(documents, "doc_id", "text", side=16)


SQL_BMP_SURFACE_CONTRACT = """
SELECT doc_id,
       CAST(256 AS BIGINT) AS n_pixels,
       TRUE AS bmp_surface_exact
FROM documents
WHERE strlen(text) >= 256
"""


def q_exists_subquery_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS subqueries through the SQL surface —
    Catalyst rewrites both to semi/anti joins (same physical plan the
    DataFrame left_semi/left_anti API produces; the subquery SYNTAX is the
    operator under test here)."""
    _t(spark, sf_dir, "customer", "orders")
    return spark.sql("""
        SELECT c_mktsegment,
               count(*) AS n_customers,
               CAST(sum(CASE WHEN EXISTS (
                   SELECT 1 FROM orders o
                   WHERE o.o_custkey = c.c_custkey
                     AND o.o_totalprice > 200000
               ) THEN 1 ELSE 0 END) AS BIGINT) AS n_with_big_order,
               CAST(sum(CASE WHEN NOT EXISTS (
                   SELECT 1 FROM orders o2 WHERE o2.o_custkey = c.c_custkey
               ) THEN 1 ELSE 0 END) AS BIGINT) AS n_orderless
        FROM customer c
        GROUP BY c_mktsegment
    """)


SQL_EXISTS_SUBQUERY_CUSTOMERS = """
SELECT c_mktsegment,
       count(*) AS n_customers,
       CAST(sum(CASE WHEN EXISTS (
           SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
       ) THEN 1 ELSE 0 END) AS BIGINT) AS n_with_big_order,
       CAST(sum(CASE WHEN NOT EXISTS (
           SELECT 1 FROM orders o2 WHERE o2.o_custkey = c.c_custkey
       ) THEN 1 ELSE 0 END) AS BIGINT) AS n_orderless
FROM customer c
GROUP BY c_mktsegment
"""


def q_rolling_hour_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per user, events inside the TRAILING one-hour
    range of each event (rangeBetween on epoch MICROSECONDS — a value-based
    frame, not a row-count frame; row frames can't express 'last hour'
    under irregular arrival).  Per-user audit of the peak rate.

    The frame axis is un-truncated unix_micros on BOTH the Spark side and
    the DuckDB oracle (epoch_us): events.ts is microsecond-precision, and
    truncating to whole seconds on one side only shifts which events fall
    inside the trailing hour at the boundary."""
    (events,) = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    micros = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    rated = events.select(
        "user_id", F.count(F.lit(1)).over(w).alias("events_last_hour")
    )
    return rated.groupBy("user_id").agg(
        F.max("events_last_hour").alias("peak_hour_rate"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_ROLLING_HOUR_EVENT_RATE = """
WITH rated AS (
  SELECT user_id,
         count(*) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
         ) AS events_last_hour
  FROM events
)
SELECT user_id, max(events_last_hour) AS peak_hour_rate,
       count(*) AS n_events
FROM rated GROUP BY user_id
"""


def q_part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching — near-identical part names within a
    brand (levenshtein ≤ 4) — the string-similarity sibling of the shingle
    dedup family (catalog-entity resolution).  Scale: the quadratic
    candidate space is BOUNDED twice before the distance computation
    (same capped-block shape as short_text_editdups): by the brand group,
    AND by a deterministic per-brand block cap of 500 lowest part keys
    (r8, VERDICT r7 item 6 — the uncapped brand block made the oracle's
    restated quadratic the single 1,100 s entry of the sf1.0 ladder;
    capped, both sides stay O(brands · cap²) at ANY scale factor).  The
    cap is surfaced per brand as ``n_block`` so a capped run is visibly
    capped, never silently truncated.  At the driver's sf0.01 gate the
    cap exceeds every brand block — pair results there are identical to
    the uncapped form."""
    (part,) = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_partkey")
    blocked = (
        part.select("p_brand", "p_partkey", "p_name")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 500)
    )
    a = blocked.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
    )
    b = blocked.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
    )
    pairs = a.join(b, "brand").filter(
        (F.col("key_a") < F.col("key_b"))
        # cheap NECESSARY condition for lev <= 4 (an edit changes length
        # by at most 1) — prunes before the O(len²) distance kernel runs;
        # result-identical, mirrored in the oracle
        & (F.abs(F.length("name_a") - F.length("name_b")) <= 4)
    )
    # banded threshold form (r12): exact distance for every surviving
    # row (<= 4 returns the true value, > 4 returns -1), so the min/count
    # are unchanged while far pairs exit the DP early
    scored = pairs.withColumn(
        "dist", F.levenshtein("name_a", "name_b", 4)
    ).filter(F.col("dist") >= 0)
    sizes = blocked.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).alias("n_block")
    )
    return scored.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_close_pairs"),
        F.min("dist").alias("min_dist"),
    ).join(F.broadcast(sizes), "brand")


SQL_PART_NAME_FUZZY_PAIRS = """
WITH blocked AS (
  SELECT p_brand, p_partkey, p_name
  FROM (
    SELECT p_brand, p_partkey, p_name,
           row_number() OVER (
             PARTITION BY p_brand ORDER BY p_partkey
           ) AS rk
    FROM part
  ) WHERE rk <= 500
),
sizes AS (
  SELECT p_brand AS brand, count(*) AS n_block FROM blocked GROUP BY 1
),
close_pairs AS (
  SELECT a.p_brand AS brand,
         count(*) AS n_close_pairs,
         min(levenshtein(a.p_name, b.p_name)) AS min_dist
  FROM blocked a JOIN blocked b
    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
  WHERE abs(length(a.p_name) - length(b.p_name)) <= 4
    AND levenshtein(a.p_name, b.p_name) <= 4
  GROUP BY a.p_brand
)
SELECT brand, n_close_pairs, min_dist, n_block
FROM close_pairs JOIN sizes USING (brand)
"""


def q_value_dispersion_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family — stddev_samp / var_samp / corr per
    event type.  Both engines use numerically stable single-pass updates;
    agreement at round(…, 6) verified at two scale factors."""
    (events,) = _t(spark, sf_dir, "events")
    x = F.col("value")
    y = (F.col("event_id") % 1000).cast("double")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.stddev_samp(x), 6).alias("sd_value"),
        F.round(F.var_samp(x), 6).alias("var_value"),
        F.round(F.corr(x, y), 6).alias("corr_value_idx"),
    )


SQL_VALUE_DISPERSION_STATS = """
SELECT event_type, count(*) AS n,
       round(stddev_samp(value), 6) AS sd_value,
       round(var_samp(value), 6) AS var_value,
       round(corr(value, CAST(event_id % 1000 AS DOUBLE)), 6) AS corr_value_idx
FROM events
GROUP BY event_type
"""


def q_sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text API parity: the same engine surface through ``spark.sql``
    over the temp views ``load_tables`` registers — a user can hand the
    engine literal ANSI SQL and get the identical Catalyst plan the
    DataFrame API produces.  (Spark and DuckDB both read this statement,
    modulo strftime/date_format spelling.)"""
    _t(spark, sf_dir, "orders", "customer")
    return spark.sql("""
        SELECT c_mktsegment,
               date_format(o_orderdate, 'yyyy') AS order_year,
               count(*) AS n_orders,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,8))) AS DOUBLE), 2)
                 AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderstatus <> 'F'
        GROUP BY c_mktsegment, date_format(o_orderdate, 'yyyy')
    """)


SQL_SQL_API_REVENUE = """
SELECT c_mktsegment,
       strftime(o_orderdate, '%Y') AS order_year,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,8))) AS DOUBLE), 2)
         AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus <> 'F'
GROUP BY c_mktsegment, strftime(o_orderdate, '%Y')
"""


def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function surface over the embedding corpus:
    per-label L2-norm statistics via an ``F.aggregate`` fold (sequential,
    JVM-side — the codegen'd per-row path; bulk scoring stays in the BLAS
    batch operators).  Sequential fold order matches DuckDB's list_sum
    fold exactly, so norms agree bit-for-bit before the round."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norms = embeddings.select("label", F.sqrt(sq).alias("l2"))
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.min("l2"), 6).alias("min_norm"),
        F.round(F.max("l2"), 6).alias("max_norm"),
        F.round(
            F.sum(F.col("l2").cast("decimal(28,12)")).cast("double"), 4
        ).alias("sum_norm"),
    )


SQL_EMBEDDING_NORM_STATS = """
WITH norms AS (
  SELECT label,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
           AS l2
  FROM embeddings
)
SELECT label, count(*) AS n_vecs,
       round(min(l2), 6) AS min_norm,
       round(max(l2), 6) AS max_norm,
       round(CAST(sum(CAST(l2 AS DECIMAL(28,12))) AS DOUBLE), 4) AS sum_norm
FROM norms GROUP BY label
"""


def q_embedding_quantize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding corpus
    (operators/similarity.py::int8_quantize — the FAISS-SQ8-style 4x
    memory reduction in front of large-scale ANN) with a per-label
    reconstruction audit: max |code| (127 for any non-zero vector) and the
    mean relative RMSE of the dequantized vectors.  Codes use
    ``floor(x/scale + 0.5)`` so rounding is the same IEEE op on every
    engine; error sums are sequential folds and label sums are DECIMAL, so
    the audit hash-matches bit-for-bit.

    r11 kernel: the quantize + reconstruction-error folds moved from
    interpreted Catalyst lambdas (plus a corpus self-join to re-attach
    codes) into ONE Arrow ``mapInPandas`` pass — ``np.add.accumulate``
    is the same strict left fold, the quantization the same elementwise
    IEEE math (max-|x| is exact in any order), so every per-vector
    double is bit-identical and the unchanged DuckDB oracle remains the
    proof.  No join, no second scan; the groupBy(label) DECIMAL
    summation stays in Spark unchanged."""
    import numpy as np  # noqa: PLC0415

    (embeddings,) = _t(spark, sf_dir, "embeddings")

    def _audit(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
            )
            # sim_ops.int8_quantize math, elementwise-identical
            max_abs = np.max(np.abs(V), axis=1)
            scale = max_abs / 127.0
            safe_s = np.where(scale > 0.0, scale, 1.0)[:, None]
            codes = np.where(
                (scale > 0.0)[:, None],
                np.clip(np.floor(V / safe_s + 0.5), -127.0, 127.0),
                0.0,
            )
            # same strict left folds as the F.aggregate lambdas
            d = V - codes * scale[:, None]
            err = np.add.accumulate(d * d, axis=1)[:, -1]
            ss = np.add.accumulate(V * V, axis=1)[:, -1]
            rel = np.where(
                ss > 0.0,
                np.sqrt(err / np.where(ss > 0.0, ss, 1.0)),
                0.0,
            )
            yield pd.DataFrame(
                {
                    "label": pdf["label"],
                    "max_code": np.max(np.abs(codes), axis=1).astype(
                        np.int32
                    ),
                    "rel_rmse": rel,
                }
            )

    width = spark.sparkContext.defaultParallelism
    per_vec = (
        embeddings.select(
            "label", F.col("embedding").cast("array<double>").alias("v")
        )
        .repartition(width)
        .mapInPandas(_audit, "label int, max_code int, rel_rmse double")
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.max("max_code").alias("max_code"),
        F.round(
            F.sum(F.col("rel_rmse").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_rel_rmse"),
    )


SQL_EMBEDDING_QUANTIZE_AUDIT = """
WITH qz AS (
  SELECT vec_id, label, embedding,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0
           AS scale
  FROM embeddings
), coded AS (
  SELECT vec_id, label, embedding, scale,
         CASE WHEN scale > 0 THEN
           list_transform(embedding, x ->
             CAST(greatest(-127.0, least(127.0,
                  floor(x::DOUBLE / scale + 0.5))) AS INTEGER))
         ELSE list_transform(embedding, x -> 0) END AS codes
  FROM qz
), per_vec AS (
  SELECT label,
         list_max(list_transform(codes, q -> abs(q))) AS max_code,
         list_sum(list_transform(list_zip(embedding, codes),
           p -> (p[1]::DOUBLE - p[2]::DOUBLE * scale)
              * (p[1]::DOUBLE - p[2]::DOUBLE * scale))) AS err,
         list_sum(list_transform(embedding,
           x -> x::DOUBLE * x::DOUBLE)) AS ss
  FROM coded
)
SELECT label, count(*) AS n_vecs,
       CAST(max(max_code) AS INTEGER) AS max_code,
       round(CAST(sum(CAST(CASE WHEN ss > 0 THEN sqrt(err / ss)
                                ELSE 0.0 END AS DECIMAL(28,12))) AS DOUBLE)
             / count(*), 6) AS avg_rel_rmse
FROM per_vec GROUP BY label
"""


def q_int8_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for quantized ANN: exact float cosine top-5 vs
    top-5 over the int8-DEQUANTIZED corpus (float probes — the standard
    asymmetric SQ search), per probe.  Both rankings use the sequential-
    fold cosine (bit-identical to DuckDB's list_sum fold) ordered by the
    raw double with a vec_id tie-break, so ranks are deterministic even
    where quantization collapses scores into exact ties.  The batched
    numpy / LSH operators stay the 100 TB scoring path; the form here
    exists precisely to make the recall contract exact.

    r11 kernel: the probe×corpus scoring moved from interpreted
    ``F.aggregate``/``zip_with`` lambdas (CodegenFallback — ~128 M
    interpreted fold steps at sf1.0) into an Arrow ``mapInPandas``
    kernel whose ``np.add.accumulate`` is the SAME strict left fold —
    identical addends in identical order, so every double is
    bit-identical to the expression form (pinned by
    ``test_int8_ann_recall_kernel_matches_expression_fold``).  The
    kernel also emits only a per-batch partial top-5 per probe (the
    union of per-batch top-5s contains the global top-5 a fortiori;
    ties are impossible to mis-order because selection uses Java's
    ``Double.compare`` total order — the bit-twiddle key below — which
    is exactly Spark's sort semantics including -0.0 < 0.0), so the
    window shuffle carries ≤ 5·probes·batches rows instead of
    probes×corpus."""
    import numpy as np  # noqa: PLC0415

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    corpus = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # fixed probe PANEL (<=50 probes at any scale factor): the recall
    # contract is O(probes x corpus) by nature, so the probe set must not
    # grow with the corpus or the contract itself turns quadratic — at
    # sf0.5 the unbounded %50 form was 14x the sf0.1 cost (observed in the
    # scaling bench).  Identical predicate on the oracle.
    probes = corpus.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2500)
    ).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    # Probe panel to the driver ONCE — ≤ 50 rows by construction at any
    # scale (the same bounded-collect class as the Bloom position
    # collect); the kernel closure ships it to executors per task.
    probe_rows = probes.collect()
    q_ids = np.array([r["query_id"] for r in probe_rows], dtype=np.int64)
    q_mat = np.array(
        [r["qv"] for r in probe_rows], dtype=np.float64
    ) if probe_rows else np.zeros((0, 1))
    nq = (
        np.sqrt(np.add.accumulate(q_mat * q_mat, axis=1)[:, -1])
        if q_ids.size
        else np.zeros(0)
    )

    w = Window.partitionBy("which", "query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )

    def _desc_key(x):
        # Java Double.compare total order (= Spark's double sort:
        # -0.0 < 0.0, NaN above +inf), descending, as an int64 key:
        # flip the magnitude bits of negatives, then complement.
        b = np.ascontiguousarray(x).view(np.int64)
        asc = np.where(b >= 0, b, b ^ np.int64(0x7FFFFFFFFFFFFFFF))
        return ~asc

    def _rank_partials(vid, V, which, out):
        # same strict left fold as F.aggregate(acc + x*x) / (acc + a*b)
        nc = np.sqrt(np.add.accumulate(V * V, axis=1)[:, -1])
        for qi in range(q_ids.size):
            cos = np.add.accumulate(q_mat[qi] * V, axis=1)[:, -1] / (
                nq[qi] * nc
            )
            mask = vid != q_ids[qi]
            cvid, ccos = vid[mask], cos[mask]
            if cvid.size == 0:
                continue
            top = np.lexsort((cvid, _desc_key(ccos)))[:5]
            out[0].append(np.full(top.size, which, dtype=np.int32))
            out[1].append(np.full(top.size, q_ids[qi], dtype=np.int64))
            out[2].append(cvid[top])
            out[3].append(ccos[top])

    def _partial_top5(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if len(pdf) == 0 or q_ids.size == 0:
                continue
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            V = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
            )
            # int8 SQ dequantization, reproducing sim_ops.int8_quantize /
            # int8_dequantize bit-for-bit with elementwise IEEE ops: the
            # max-|x| fold is EXACT in any order (max never rounds), then
            # scale = max/127.0, codes = clip(floor(x/scale + 0.5)) as in
            # the Catalyst form, reconstruction = codes * scale.
            max_abs = np.max(np.abs(V), axis=1)
            scale = max_abs / 127.0
            safe = np.where(scale > 0.0, scale, 1.0)[:, None]
            codes = np.where(
                (scale > 0.0)[:, None],
                np.clip(np.floor(V / safe + 0.5), -127.0, 127.0),
                0.0,
            )
            Vq = codes * (scale[:, None])
            out = ([], [], [], [])
            _rank_partials(vid, V, 0, out)
            _rank_partials(vid, Vq, 1, out)
            if out[0]:
                yield pd.DataFrame(
                    {
                        "which": np.concatenate(out[0]),
                        "query_id": np.concatenate(out[1]),
                        "vec_id": np.concatenate(out[2]),
                        "cos": np.concatenate(out[3]),
                    }
                )

    # ONE scan + ONE kernel pass scores BOTH rankings (the dequantized
    # corpus is derived per batch inside the kernel), spread across
    # defaultParallelism instead of the narrow scan split (one ~10 MB
    # parquet file = 1-2 tasks pinning the probe×corpus product on one
    # core).  The shuffle moves only (vec_id, 64 doubles) once, and the
    # window sees ≤ 2·5·probes·batches partial rows.
    width = spark.sparkContext.defaultParallelism
    scored = (
        corpus.select("vec_id", "v")
        .repartition(width)
        .mapInPandas(
            _partial_top5,
            "which int, query_id long, vec_id long, cos double",
        )
    )
    ranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id")
    )
    # a recall hit = the pair appears in BOTH rankings; vec_id is unique
    # within one ranking's top-5, so "count == 2 over the union" ⟺ the
    # original exact⋈quant inner join — ONE aggregation instead of two
    # which-filters whose pushdown would split (and re-run) the kernel
    # subtree under each branch.
    hits = (
        ranked.groupBy("query_id", "vec_id")
        .agg(F.count(F.lit(1)).alias("__k"))
        .filter(F.col("__k") == 2)
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        probes.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / 5.0, 2).alias(
                "recall_at_5"
            ),
        )
    )


SQL_INT8_ANN_RECALL = """
WITH c AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
), probes AS (
  SELECT vec_id AS query_id, v AS qv FROM c
  WHERE vec_id % 50 = 0 AND vec_id < 2500
), qz AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0
           AS scale
  FROM embeddings
), deq AS (
  SELECT vec_id,
         CASE WHEN scale > 0 THEN
           list_transform(embedding, x ->
             CAST(greatest(-127.0, least(127.0,
                  floor(x::DOUBLE / scale + 0.5))) AS INTEGER)::DOUBLE * scale)
         ELSE list_transform(embedding, x -> 0.0) END AS v
  FROM qz
), exact5 AS (
  SELECT query_id, vec_id FROM (
    SELECT p.query_id, c.vec_id,
           list_sum(list_transform(list_zip(p.qv, c.v), x -> x[1] * x[2]))
             / (sqrt(list_sum(list_transform(p.qv, x -> x * x)))
                * sqrt(list_sum(list_transform(c.v, x -> x * x)))) AS cos,
           row_number() OVER (
             PARTITION BY p.query_id
             ORDER BY list_sum(list_transform(list_zip(p.qv, c.v),
                               x -> x[1] * x[2]))
                      / (sqrt(list_sum(list_transform(p.qv, x -> x * x)))
                         * sqrt(list_sum(list_transform(c.v, x -> x * x))))
                      DESC, c.vec_id ASC) AS rank
    FROM probes p, c WHERE c.vec_id <> p.query_id
  ) WHERE rank <= 5
), quant5 AS (
  SELECT query_id, vec_id FROM (
    SELECT p.query_id, d.vec_id,
           row_number() OVER (
             PARTITION BY p.query_id
             ORDER BY list_sum(list_transform(list_zip(p.qv, d.v),
                               x -> x[1] * x[2]))
                      / (sqrt(list_sum(list_transform(p.qv, x -> x * x)))
                         * sqrt(list_sum(list_transform(d.v, x -> x * x))))
                      DESC, d.vec_id ASC) AS rank
    FROM probes p, deq d WHERE d.vec_id <> p.query_id
  ) WHERE rank <= 5
), hits AS (
  SELECT e.query_id, count(*) AS n_hits
  FROM exact5 e JOIN quant5 q USING (query_id, vec_id)
  GROUP BY e.query_id
)
SELECT p.query_id,
       coalesce(h.n_hits, 0) AS n_hits,
       round(coalesce(h.n_hits, 0) / 5.0, 2) AS recall_at_5
FROM probes p LEFT JOIN hits h USING (query_id)
"""


def q_event_id_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over consecutive event ids per user: the classic
    ``id - row_number()`` grouping trick — runs of consecutive ids collapse
    to one island key.  The id-continuity sibling of time-gap sessionize
    (ingest-completeness audits ask exactly this: which id ranges arrived
    unbroken?).  One window + one aggregate, shuffled by user only."""
    (events,) = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("event_id")
    islands = events.select(
        "user_id",
        "event_id",
        (F.col("event_id") - F.row_number().over(w)).alias("island_key"),
    )
    per_island = islands.groupBy("user_id", "island_key").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("event_id").alias("run_start"),
    )
    return per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("run_len").alias("longest_run"),
        F.min("run_start").alias("first_id"),
    )


SQL_EVENT_ID_ISLANDS = """
WITH islands AS (
  SELECT user_id, event_id,
         event_id - row_number() OVER (PARTITION BY user_id ORDER BY event_id)
           AS island_key
  FROM events
), per_island AS (
  SELECT user_id, island_key, count(*) AS run_len, min(event_id) AS run_start
  FROM islands GROUP BY user_id, island_key
)
SELECT user_id, count(*) AS n_islands, max(run_len) AS longest_run,
       min(run_start) AS first_id
FROM per_island GROUP BY user_id
"""


def q_segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT surface: customers common to the two top
    mktsegments by balance band vs exclusive to the first — exact bag/set
    semantics matched to the SQL set operators."""
    (customer,) = _t(spark, sf_dir, "customer")
    rich = customer.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    both = rich.intersect(building)
    only_rich = rich.exceptAll(building)
    return (
        both.agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("rich_and_building").alias("subset"), "n")
        .unionByName(
            only_rich.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit("rich_only").alias("subset"), "n"
            )
        )
    )


SQL_SEGMENT_SET_OPS = """
WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
     building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
SELECT 'rich_and_building' AS subset,
       (SELECT count(*) FROM (SELECT * FROM rich INTERSECT SELECT * FROM building)) AS n
UNION ALL
SELECT 'rich_only',
       (SELECT count(*) FROM (SELECT * FROM rich EXCEPT ALL SELECT * FROM building)) AS n
"""


def q_sliding_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) event-time windows — F.window(ts, '2 hours',
    '1 hour'): every event lands in TWO overlapping windows; the smoothing
    aggregation Structured Streaming uses for rate dashboards, computed
    here in batch with the identical operator.  Oracle replicates the
    two-window membership with an explicit 2-row explode per event."""
    (events,) = _t(spark, sf_dir, "events")
    agg = (
        events.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,10)")).cast("double"), 4
            ).alias("total_value"),
        )
    )
    return agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH").alias("win_start"),
        "event_type",
        "n_events",
        "total_value",
    )


SQL_SLIDING_EVENT_WINDOWS = """
WITH exploded AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS win_start,
         event_type, value
  FROM events
  UNION ALL
  SELECT strftime(date_trunc('hour', ts) - INTERVAL 1 HOUR, '%Y-%m-%d %H'),
         event_type, value
  FROM events
)
SELECT win_start, event_type, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 4) AS total_value
FROM exploded GROUP BY win_start, event_type
"""


def q_measure_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): three lineitem measures to long (measure, value)
    format via ``unpivot`` — one projection, no shuffle until the final
    aggregate; the wide→long normalization step feature stores need.
    Oracle = UNION ALL of per-measure aggregates."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    long = lineitem.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("val").cast("decimal(28,10)")).cast("double"), 4).alias(
            "total"
        ),
    )


SQL_MEASURE_UNPIVOT = """
WITH long AS (
  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
)
SELECT l_returnflag, measure, count(*) AS n,
       round(CAST(sum(CAST(val AS DECIMAL(28,10))) AS DOUBLE), 4) AS total
FROM long GROUP BY l_returnflag, measure
"""


def q_customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile banding of customers by account balance via exact percentile
    BOUNDARIES (quantile-bucket assignment for feature binning).

    Deliberately NOT ``ntile`` — a global-order window is a single-partition
    scan at 100 TB.  Instead: one 9-value percentile aggregate, broadcast
    back, decile = 1 + #boundaries strictly below the value — the same
    group-scalar-from-aggregate shape as length_band_filter, fully parallel.
    Spark `percentile` and DuckDB `quantile_cont` interpolate
    bit-identically (verified), so band edges agree exactly."""
    (customer,) = _t(spark, sf_dir, "customer")
    qs = [i / 10.0 for i in range(1, 10)]
    bounds = customer.agg(
        F.expr(
            f"percentile(c_acctbal, array({','.join(str(q) for q in qs)}))"
        ).alias("bs")
    )
    j = customer.crossJoin(F.broadcast(bounds))
    decile = (
        F.size(F.filter("bs", lambda b: F.col("c_acctbal") > b)) + 1
    ).alias("decile")
    return (
        j.select("c_acctbal", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


SQL_CUSTOMER_VALUE_DECILES = """
WITH bounds AS (
  SELECT quantile_cont(c_acctbal, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
  FROM customer
), banded AS (
  SELECT c_acctbal,
         len(list_filter(bs, b -> c_acctbal > b)) + 1 AS decile
  FROM customer, bounds
)
SELECT decile, count(*) AS n_customers,
       round(min(c_acctbal), 2) AS min_bal,
       round(max(c_acctbal), 2) AS max_bal
FROM banded GROUP BY decile
"""


def q_segment_cube_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (mktsegment, orderstatus) — all four grouping
    combinations in one pass (the full-lattice sibling of the ROLLUP query;
    grouping-sets surface the reference lacks, SURVEY §2.4)."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    j = orders.join(
        customer.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return j.cube("c_mktsegment", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(28,8)")).cast("double"), 2).alias(
            "total_value"
        ),
    )


SQL_SEGMENT_CUBE_STATS = """
SELECT c_mktsegment, o_orderstatus,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,8))) AS DOUBLE), 2) AS total_value
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE (c_mktsegment, o_orderstatus)
"""


def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event counts widened to one column per event type
    (explicit value list, so the plan is a single groupBy with conditional
    aggregates — no extra distinct pass; at 100 TB an unlisted pivot would
    first scan for distinct values).  Oracle = conditional-sum SQL."""
    (events,) = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    out = (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    cols = [F.col("user_id")] + [
        F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types
    ]
    return out.select(*cols)


SQL_EVENT_TYPE_PIVOT = """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events
GROUP BY user_id
"""


def q_multimodal_meta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked slice of the multimodal surface: the typed-metadata +
    binary-payload layer (operators/multimodal.py::synthesize_media) audited
    per frame-count bucket — byte sizes from the BINARY column, dimensions
    from the metadata struct.  The Python feature-extraction path stays
    rows-only (q_multimodal_features); this pins the schema/metadata
    plumbing to exact SQL semantics."""
    from .operators import multimodal as mm

    (documents,) = _t(spark, sf_dir, "documents")
    media = mm.synthesize_media(documents, "doc_id", "text")
    return (
        media.select(
            F.col("meta.n_frames").alias("n_frames"),
            F.length("data").alias("n_bytes"),
            F.col("meta.width").alias("width"),
        )
        .groupBy("n_frames")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.max("width").alias("max_width"),
        )
    )


SQL_MULTIMODAL_META_STATS = """
SELECT CAST(length(text) % 32 + 1 AS INT) AS n_frames,
       count(*) AS n_media,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(max(greatest(floor(sqrt(length(text))), 1)) AS INT) AS max_width
FROM documents
GROUP BY 1
"""


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k (operators/similarity.py::ivf_topk):
    coarse quantizer → inverted lists → n_probe search.  The second ANN
    scale path next to LSH.

    FULL hash oracle via the same planted-neighbor corpus as
    q_embedding_lsh_topk (r8): one-hot group directions at positive
    magnitudes make the result derivable for ANY centroid sample — every
    same-group vector has an IDENTICAL cosine profile to every centroid
    (1 in-group, 0 cross-group), so the whole group lands in one inverted
    list under the operator's deterministic tie-break, and the query's
    n_probe=4 descending-(sim, cid) probe always contains that list:
    with a group centroid sampled it is the top probe; with none, all
    sims tie at 0 and both corpus top-1 and query probes start at the
    largest-cid centroid.  In-group cosine is exactly 1.0, so top-5 =
    the 5 lowest same-group vec_ids — closed form, independent of the
    xxhash64 sample.  Real-corpus recall stays covered by the
    oracle-checked `embedding_ivf_recall` contract; self-check columns
    stay."""
    from .operators.similarity import ivf_topk

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
    out = ivf_topk(corpus, queries, k=5, n_centroids=16, n_probe=4)
    return sim_ops.topk_self_contract(out)


# Closed-form restatement of the planted-neighbor corpus, shared by the
# LSH and IVF top-k oracles (both operators produce the identical exact
# answer on this corpus — one definition so the scheme can't desynchronize
# across files; review catch r8).
SQL_PLANTED_TOPK = """
WITH ids AS (SELECT vec_id FROM embeddings WHERE vec_id < 64),
q AS (SELECT vec_id AS query_id FROM ids WHERE vec_id % 8 = 0),
ranked AS (
  SELECT q.query_id, c.vec_id,
         CAST(1.0 AS DOUBLE) AS cosine_sim,
         CAST(row_number() OVER (
           PARTITION BY q.query_id ORDER BY c.vec_id
         ) AS INT) AS rank
  FROM q JOIN ids c
    ON c.vec_id // 8 = q.query_id // 8 AND c.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine_sim, rank,
       true AS rank_contiguous, true AS score_monotone,
       true AS score_in_range
FROM ranked WHERE rank <= 5
"""

SQL_EMBEDDING_IVF_TOPK = SQL_PLANTED_TOPK


# xxhash64-rank group mapping for the q_embedding_kmeans planted corpus:
# GROUPS[i] = rank(xxhash64(i)) % 8 over ids 0..63 (Spark's stable xxhash64,
# seed 42 — the SAME ordering kmeans_centroids' min-hash-of-id init uses).
# By construction the 8 smallest-hash ids land in groups 0..7 IN ORDER, so
# Lloyd's init is exactly one centroid per planted group with cid == group,
# making the converged assignment provable.  The literal is shared with the
# DuckDB oracle below (single source of truth).
_KMEANS_GROUPS = [
    3, 6, 2, 4, 1, 3, 5, 4, 0, 3, 7, 0, 4, 0, 5, 2,
    1, 2, 3, 4, 1, 6, 4, 2, 3, 7, 2, 7, 0, 2, 6, 7,
    6, 5, 4, 1, 6, 1, 1, 3, 4, 7, 0, 5, 2, 6, 3, 2,
    0, 3, 5, 7, 6, 6, 4, 5, 0, 7, 1, 5, 7, 1, 5, 0,
]

# DuckDB restatement of the mapping — one literal source (_KMEANS_GROUPS)
# feeds the Spark fixture AND every oracle that reasons about it.
_SQL_GROUPS_CTE = "m(vec_id, grp) AS (VALUES {})".format(
    ", ".join(f"({i},{g})" for i, g in enumerate(_KMEANS_GROUPS))
)


def _planted_kmeans_corpus(embeddings: DataFrame) -> DataFrame | None:
    """The orthogonal planted-cluster fixture shared by q_embedding_kmeans
    and q_semantic_dedup_keep: 64 ids, one-hot on 8 basis directions at
    positive magnitudes, group = the id's xxhash64 RANK mod 8 (see the
    _KMEANS_GROUPS comment — the rank mapping is what pins the k-means
    init to one seed per group with cid == group).  The proof needs ALL
    64 ids (a missing id can orphan a group's init seed), so below that
    floor this returns None and both consumers emit an EMPTY result —
    mirrored by a completeness guard in their DuckDB oracles — instead of
    hard-failing the harness at tiny scale factors (ADVICE r8; the LSH/
    IVF planted corpora degrade the same way).  The gate is exact:
    count == 64 AND countDistinct == 64 — plain count alone would let a
    table with one duplicated and one missing id read as complete
    (ADVICE r9); tests/test_queries_ext.py additionally pins that the
    corpus is NON-empty at sf >= 0.01 so silent data loss can't hide
    behind the degrade."""
    g = F.element_at(
        F.array(*[F.lit(x) for x in _KMEANS_GROUPS]),
        (F.col("vec_id") + 1).cast("int"),
    )
    m = (F.col("vec_id") % 8 + 1).cast("double")
    corpus = embeddings.filter(F.col("vec_id") < 64).select(
        "vec_id",
        F.array(
            *[F.when(g == j, m).otherwise(F.lit(0.0)) for j in range(8)]
        ).alias("embedding"),
    )
    stats = corpus.agg(
        F.count("vec_id").alias("n"),
        F.countDistinct("vec_id").alias("nd"),
    ).first()
    if stats["n"] != 64 or stats["nd"] != 64:
        return None
    return corpus


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means clustering (operators/similarity.py::
    kmeans_centroids) — the trained coarse quantizer for IVF and the
    clustering step of semantic dedup.  Returns per-cluster sizes from a
    final assignment pass.

    FULL hash oracle via orthogonal planted clusters (r8, VERDICT r7
    item 5): 64 ids carry one-hot vectors on 8 basis directions at
    positive magnitudes, with the group mapping chosen as the id's
    xxhash64 RANK mod 8 (``_KMEANS_GROUPS``) so the operator's
    min-hash-of-id init picks exactly one vector per group, cid == group.
    Orthogonal groups make every Lloyd's step exact in IEEE float
    (dot = magnitude or 0; per-cluster mean normalizes back to the basis
    vector), so the converged assignment provably equals the planted
    partition: every cluster has exactly its 8 group members.  The
    full iterative path still executes — init, 3 assignment/update
    rounds, final assignment.  Self-check columns stay."""
    from .operators.similarity import kmeans_centroids, nearest_centroid

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    corpus = _planted_kmeans_corpus(embeddings)
    if corpus is None:  # sub-64-row table: empty on both sides, not a fail
        return literal_frame(
            spark,
            [],
            "cluster long, n_vectors long, cluster_in_range boolean, "
            "size_positive boolean, sizes_sum_to_corpus boolean",
        )
    cents = [r["cvec"] for r in kmeans_centroids(corpus, k=8, n_iter=3).collect()]
    sizes = (
        corpus.select(nearest_centroid(F.col("embedding"), cents).alias("cluster"))
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    # Derived invariant columns (VERDICT r6 item 9, kept after the r8
    # oracle upgrade): every cluster id is in [0, k), every size positive,
    # and the sizes sum to the corpus count (broadcast scalar — no
    # assigned vector lost or double-counted).
    total = corpus.agg(F.count(F.lit(1)).alias("__corpus_n"))
    return (
        sizes.crossJoin(F.broadcast(total))
        .select(
            "cluster",
            "n_vectors",
            ((F.col("cluster") >= 0) & (F.col("cluster") < 8)).alias(
                "cluster_in_range"
            ),
            (F.col("n_vectors") > 0).alias("size_positive"),
            (
                F.sum("n_vectors").over(Window.partitionBy(F.lit(1)))
                == F.col("__corpus_n")
            ).alias("sizes_sum_to_corpus"),
        )
        .orderBy("cluster")
    )


SQL_EMBEDDING_KMEANS = f"""
WITH {_SQL_GROUPS_CTE},
planted AS (
  SELECT grp FROM (SELECT vec_id FROM embeddings WHERE vec_id < 64) e
  JOIN m USING (vec_id)
  -- completeness guard: below the 64-id floor the Spark side emits an
  -- empty frame (the planted-init proof needs every group seed), so the
  -- oracle must go empty too rather than aggregate a partial corpus
  WHERE (SELECT count(*) FROM embeddings WHERE vec_id < 64) = 64
    AND (SELECT count(DISTINCT vec_id) FROM embeddings WHERE vec_id < 64) = 64
)
SELECT CAST(grp AS BIGINT) AS cluster,
       count(*) AS n_vectors,
       true AS cluster_in_range,
       true AS size_positive,
       true AS sizes_sum_to_corpus
FROM planted GROUP BY grp ORDER BY cluster
"""


def q_behavior_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full EP2 resample composition: seeded simulation → keyframe subsample
    (every 4th point) → behavior segments → behavior-aware per-frame
    resample (operators/windows.py::behavior_resample —
    `worker_create.py:695-896`).  Deterministic via per-row seeds; oracle-
    checked since r4 — the recursive-CTE sim replay (_sim_replay_cte) feeds
    the same bracketing/interval/lerp restatement that oracles
    behavior_resample_checked."""
    jobs = literal_frame(
        spark,
        [(f"seq_{i:03d}", 3000 + i) for i in range(6)],
        "sequence_id string, seed long",
    )
    poses = sim_gen.simulate_jobs(jobs, n_segments=5, steps_per_segment=16)
    keys = poses.filter(F.col("point_idx") % 4 == 0).select(
        "sequence_id", F.col("point_idx").alias("idx"), "x", "y", "z", "yaw", "pitch"
    )
    segments = poses.groupBy("sequence_id", "seg_idx", "behavior").agg(
        F.min("point_idx").alias("start_idx"),
        F.max("point_idx").alias("end_idx"),
    )
    out = win_ops.behavior_resample(keys, segments)
    return out.groupBy("sequence_id", "behavior").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.round(F.avg("x"), 4).alias("avg_x"),
        F.round(F.avg("yaw"), 4).alias("avg_yaw"),
    )


SQL_BEHAVIOR_RESAMPLE = (
    "WITH RECURSIVE "
    + _sim_replay_cte(
        [(f"seq_{i:03d}", 3000 + i) for i in range(6)],
        n_segments=5,
        steps=16,
    )
    + """,
keys AS (
  SELECT sequence_id, pidx AS idx, x, yaw FROM pseg WHERE pidx % 4 = 0
),
segt AS (
  SELECT sequence_id, seg_of,
         min(pidx) AS start_idx, max(pidx) AS end_idx
  FROM pseg GROUP BY sequence_id, seg_of
),
segments AS (
  SELECT t.sequence_id, """ + _SIM_BEHAVIOR_NAME_CASE + """ AS behavior,
         t.start_idx, t.end_idx
  FROM segt t JOIN segs s
    ON s.sequence_id = t.sequence_id AND s.seg = t.seg_of
),
frames AS (
  SELECT sequence_id, unnest(generate_series(0, maxidx)) AS frame
  FROM (SELECT sequence_id, max(idx) AS maxidx FROM keys GROUP BY sequence_id)
),
bracket AS (
  SELECT f.sequence_id, f.frame,
         max(k.idx) FILTER (k.idx <= f.frame) AS p_idx,
         min(k.idx) FILTER (k.idx >= f.frame) AS n_idx
  FROM frames f JOIN keys k ON k.sequence_id = f.sequence_id
  GROUP BY f.sequence_id, f.frame
),
br AS (
  SELECT b.sequence_id, b.frame,
         pk.x AS p_x, pk.yaw AS p_yaw, nk.x AS n_x, nk.yaw AS n_yaw,
         CASE WHEN b.n_idx <> b.p_idx
              THEN (b.frame - b.p_idx) / (b.n_idx - b.p_idx)
              ELSE 0.0 END AS t
  FROM bracket b
  JOIN keys pk ON pk.sequence_id = b.sequence_id AND pk.idx = b.p_idx
  JOIN keys nk ON nk.sequence_id = b.sequence_id AND nk.idx = b.n_idx
),
tagged AS (
  SELECT br.*, coalesce(s.behavior, 'roam') AS behavior
  FROM br LEFT JOIN segments s
    ON s.sequence_id = br.sequence_id
   AND br.frame >= s.start_idx AND br.frame <= s.end_idx
),
resampled AS (
  SELECT sequence_id, behavior,
    CASE WHEN behavior LIKE '%idle%' OR behavior LIKE '%rotate%' THEN p_x
         ELSE p_x + t * (n_x - p_x) END AS x,
    CASE WHEN behavior LIKE '%idle%' OR behavior LIKE '%translate%'
         THEN p_yaw
         ELSE p_yaw + t * ((n_yaw - p_yaw)
              - 360.0 * floor((n_yaw - p_yaw) / 360.0 + 0.5)) END AS yaw
  FROM tagged
)
SELECT sequence_id, behavior, count(*) AS n_frames,
       round(avg(x), 4) AS avg_x, round(avg(yaw), 4) AS avg_yaw
FROM resampled GROUP BY sequence_id, behavior
"""
)


def q_behavior_resample_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The densest reference operator — behavior-aware per-frame resampling
    (`worker_create.py:695-896`, operators/windows.py::behavior_resample) —
    with fully deterministic inputs so the whole composition (frame grid +
    bracketing as-of joins + interval join + per-behavior CASE + shortest-arc
    angle lerp) hash-checks against an independent SQL restatement.  Keys:
    first 10 events per user at idx 0,4,…,36; segments: three fixed idx bands
    with behavior chosen by (user+s) mod 4; frames 34-36 are deliberately
    uncovered to exercise the left-join 'roam' default."""
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    ranked = events.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 10
    )
    keys = ranked.select(
        F.col("user_id").cast("string").alias("sequence_id"),
        ((F.col("rn") - 1) * 4).alias("idx"),
        F.col("value").alias("x"),
        (F.col("event_id") % 100).cast("double").alias("y"),
        F.lit(0.0).alias("z"),
        ((F.col("event_id") * 37) % 360 - 180).cast("double").alias("yaw"),
        ((F.col("event_id") * 17) % 120 - 60).cast("double").alias("pitch"),
    )
    seg_def = literal_frame(
        spark,
        [(0, 0, 12), (1, 13, 24), (2, 25, 33)],
        "s int, start_idx int, end_idx int",
    )
    behaviors = F.array(
        F.lit("idle"), F.lit("rotate"), F.lit("translate"), F.lit("roam")
    )
    segments = (
        keys.select("sequence_id")
        .distinct()
        .crossJoin(F.broadcast(seg_def))
        .select(
            "sequence_id",
            F.element_at(
                behaviors,
                (
                    (F.col("sequence_id").cast("long") + F.col("s")) % 4 + 1
                ).cast("int"),
            ).alias("behavior"),
            "start_idx",
            "end_idx",
        )
    )
    out = win_ops.behavior_resample(keys, segments)
    return out.select(
        "sequence_id",
        "frame",
        "behavior",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("z", 6).alias("z"),
        F.round("yaw", 6).alias("yaw"),
        F.round("pitch", 6).alias("pitch"),
    )


SQL_BEHAVIOR_RESAMPLE_CHECKED = """
WITH ranked AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
), keys AS (
  SELECT CAST(user_id AS VARCHAR) AS sequence_id,
         (rn - 1) * 4 AS idx,
         value AS x,
         CAST(event_id % 100 AS DOUBLE) AS y,
         CAST(0.0 AS DOUBLE) AS z,
         CAST((event_id * 37) % 360 - 180 AS DOUBLE) AS yaw,
         CAST((event_id * 17) % 120 - 60 AS DOUBLE) AS pitch
  FROM ranked WHERE rn <= 10
), segments AS (
  SELECT u.sequence_id,
         list_extract(['idle', 'rotate', 'translate', 'roam'],
                      CAST((CAST(u.sequence_id AS BIGINT) + v.s) % 4 + 1
                           AS INTEGER)) AS behavior,
         v.start_idx, v.end_idx
  FROM (SELECT DISTINCT sequence_id FROM keys) u,
       (VALUES (0, 0, 12), (1, 13, 24), (2, 25, 33)) v(s, start_idx, end_idx)
), frames AS (
  SELECT sequence_id, unnest(generate_series(0, maxidx)) AS frame
  FROM (SELECT sequence_id, max(idx) AS maxidx FROM keys GROUP BY sequence_id)
), bracket AS (
  SELECT f.sequence_id, f.frame,
         max(k.idx) FILTER (k.idx <= f.frame) AS p_idx,
         min(k.idx) FILTER (k.idx >= f.frame) AS n_idx
  FROM frames f JOIN keys k ON k.sequence_id = f.sequence_id
  GROUP BY f.sequence_id, f.frame
), br AS (
  SELECT b.sequence_id, b.frame, b.p_idx, b.n_idx,
         pk.x AS p_x, pk.y AS p_y, pk.z AS p_z,
         pk.yaw AS p_yaw, pk.pitch AS p_pitch,
         nk.x AS n_x, nk.y AS n_y, nk.z AS n_z,
         nk.yaw AS n_yaw, nk.pitch AS n_pitch,
         CASE WHEN b.n_idx <> b.p_idx
              THEN (b.frame - b.p_idx) / (b.n_idx - b.p_idx)
              ELSE 0.0 END AS t
  FROM bracket b
  JOIN keys pk ON pk.sequence_id = b.sequence_id AND pk.idx = b.p_idx
  JOIN keys nk ON nk.sequence_id = b.sequence_id AND nk.idx = b.n_idx
), tagged AS (
  SELECT br.*, coalesce(s.behavior, 'roam') AS behavior
  FROM br LEFT JOIN segments s
    ON s.sequence_id = br.sequence_id
   AND br.frame >= s.start_idx AND br.frame <= s.end_idx
)
SELECT sequence_id, frame, behavior,
  round(CASE WHEN behavior IN ('idle', 'rotate') THEN p_x
             ELSE p_x + t * (n_x - p_x) END, 6) AS x,
  round(CASE WHEN behavior IN ('idle', 'rotate') THEN p_y
             ELSE p_y + t * (n_y - p_y) END, 6) AS y,
  round(CASE WHEN behavior IN ('idle', 'rotate') THEN p_z
             ELSE p_z + t * (n_z - p_z) END, 6) AS z,
  round(CASE WHEN behavior IN ('idle', 'translate') THEN p_yaw
             ELSE p_yaw + t * ((n_yaw - p_yaw)
                  - 360.0 * floor((n_yaw - p_yaw) / 360.0 + 0.5)) END,
        6) AS yaw,
  round(CASE WHEN behavior IN ('idle', 'translate') THEN p_pitch
             ELSE p_pitch + t * ((n_pitch - p_pitch)
                  - 360.0 * floor((n_pitch - p_pitch) / 360.0 + 0.5)) END,
        6) AS pitch
FROM tagged
"""


def q_latest_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status state machine, batch form (`monitor.py:117-174`): last known
    status per task via max_by over event time
    (streaming/monitor.py::latest_task_status).  events replayed as the
    status stream; (user_id, ts) pairs are unique in TESTDATA so max_by is
    deterministic."""
    (events,) = _t(spark, sf_dir, "events")
    stream = events.select(
        F.col("user_id").alias("task_id"),
        F.col("ts").alias("event_time"),
        F.col("event_type").alias("status"),
        F.col("value").alias("frame_count"),
    )
    last = monitor_ops.latest_task_status(stream)
    return last.select(
        "task_id",
        F.unix_micros("last_event_time").alias("last_event_us"),
        "status",
        F.round("max_frame_count", 4).alias("max_frame"),
    )


SQL_LATEST_STATUS = """
SELECT user_id AS task_id,
       max(epoch_us(ts)) AS last_event_us,
       arg_max(event_type, ts) AS status,
       round(max(value), 4) AS max_frame
FROM events GROUP BY user_id
"""


def q_order_exists_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence probe as a semi-join (`bos_manager.py:91-96` LIMIT-1 probe,
    `scene_registry.py:512-519`): orders with at least one lineitem shipped
    after the order date, counted per priority.  LEFT SEMI stops at the first
    matching row per order — the distributed form of max_keys=1."""
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    probed = orders.join(
        lineitem,
        (orders.o_orderkey == lineitem.l_orderkey)
        & (lineitem.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return probed.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


SQL_ORDER_EXISTS_PROBE = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
)
GROUP BY o_orderpriority
"""


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped correlated-min: for each small part, the supplier(s)
    offering the minimum unit cost.  The correlated scalar subquery becomes a
    groupBy-min + equality join back — two shuffles on p_partkey, supplier
    broadcast.  Double equality is safe: both sides compare the exact value
    produced by the same division."""
    part, lineitem, supplier = _t(spark, sf_dir, "part", "lineitem", "supplier")
    small = part.filter(F.col("p_size") <= 5).select("p_partkey", "p_name")
    offers = lineitem.join(small, lineitem.l_partkey == small.p_partkey).select(
        "p_partkey",
        "p_name",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"),
    )
    mins = offers.groupBy("p_partkey").agg(F.min("unit_cost").alias("min_cost"))
    best = offers.join(mins, "p_partkey").filter(
        F.col("unit_cost") == F.col("min_cost")
    )
    out = best.join(F.broadcast(supplier), best.l_suppkey == supplier.s_suppkey)
    return out.select(
        "p_partkey",
        "p_name",
        "s_name",
        # micro-units via pure-IEEE ops (mul, add, floor are bit-identical
        # across engines) — round(double, 6) is NOT: Spark rounds the
        # shortest decimal repr, DuckDB the binary value, and an exact
        # …5e-7 quotient at sf0.5 split them (round-4 stress sweep)
        F.floor(F.col("min_cost") * 1000000.0 + 0.5)
        .cast("long")
        .alias("min_unit_cost_micros"),
    )


SQL_MIN_COST_SUPPLIER = """
WITH offers AS (
  SELECT p.p_partkey, p.p_name, l.l_suppkey,
         l.l_extendedprice / l.l_quantity AS unit_cost
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_size <= 5
)
SELECT o.p_partkey, o.p_name, s.s_name,
       CAST(floor(o.unit_cost * 1000000.0 + 0.5) AS BIGINT)
         AS min_unit_cost_micros
FROM offers o JOIN supplier s ON o.l_suppkey = s.s_suppkey
WHERE o.unit_cost = (
  SELECT min(unit_cost) FROM offers o2 WHERE o2.p_partkey = o.p_partkey
)
"""


def q_supplier_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped distinct aggregate: distinct suppliers per
    (brand, type) with a brand exclusion.  countDistinct expands to a
    two-phase partial-distinct aggregate — no row explosion before the
    shuffle."""
    part, lineitem = _t(spark, sf_dir, "part", "lineitem")
    kept = part.filter(~F.col("p_brand").rlike("^Brand#(4|11)$"))
    j = lineitem.join(F.broadcast(kept), lineitem.l_partkey == kept.p_partkey)
    return j.groupBy("p_brand", "p_type").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


SQL_SUPPLIER_DISTINCT_COUNTS = """
SELECT p_brand, p_type,
       count(DISTINCT l_suppkey) AS supplier_cnt,
       count(*) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE NOT regexp_matches(p_brand, '^Brand#(4|11)$')
GROUP BY p_brand, p_type
"""


def q_ue_path_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UE path algebra end-to-end (`scene_scanner.py:66-81,148-160`,
    `render_engine.py:105`, `run_render_job_headless.py:233-238`): synthesize
    Content-relative filesystem paths, derive the `/Game/` asset path, stem,
    suffix-stripped base, numeric index, and scene-id flag — all pure column
    expressions (functions/paths.py)."""
    (part,) = _t(spark, sf_dir, "part")
    scene_seg = F.when(
        F.col("p_partkey") % 3 == 0, F.lit("proj")
    ).otherwise(
        F.concat(
            F.lit("S"), F.lpad((F.col("p_partkey") % 9999).cast("string"), 4, "0")
        )
    )
    fs = F.concat(
        F.lit("/"),
        scene_seg,
        F.lit("/Content/Maps/"),
        F.regexp_replace("p_name", " ", "_"),
        F.lit("_"),
        F.lpad((F.col("p_partkey") % 20).cast("string"), 3, "0"),
        F.lit(".umap"),
    )
    df = part.select("p_partkey", fs.alias("fs_path"))
    stem = path_fns.path_stem(F.col("fs_path"))
    return df.select(
        "p_partkey",
        path_fns.ue_asset_path(F.col("fs_path")).alias("asset_path"),
        path_fns.strip_numeric_suffix(stem).alias("base_name"),
        path_fns.numeric_suffix(stem).alias("idx"),
        path_fns.is_scene_id(
            F.element_at(F.split(F.col("fs_path"), "/"), 2)
        ).alias("is_scene"),
    )


SQL_UE_PATH_DERIVE = """
WITH paths AS (
  SELECT p_partkey,
         '/' ||
         CASE WHEN p_partkey % 3 = 0 THEN 'proj'
              ELSE 'S' || lpad(CAST(p_partkey % 9999 AS VARCHAR), 4, '0') END ||
         '/Content/Maps/' || replace(p_name, ' ', '_') || '_' ||
         lpad(CAST(p_partkey % 20 AS VARCHAR), 3, '0') || '.umap' AS fs_path
  FROM part
), derived AS (
  SELECT p_partkey, fs_path,
         regexp_replace(list_extract(string_split(fs_path, '/'), -1),
                        '\\.[A-Za-z0-9]+$', '') AS stem
  FROM paths
)
SELECT p_partkey,
       '/Game/' || regexp_replace(split_part(fs_path, '/Content/', 2),
                                  '\\.[A-Za-z0-9]+$', '') AS asset_path,
       regexp_replace(stem, '_\\d+$', '') AS base_name,
       CASE WHEN regexp_extract(stem, '_(\\d+)$', 1) <> ''
            THEN CAST(regexp_extract(stem, '_(\\d+)$', 1) AS INTEGER) END AS idx,
       regexp_matches(list_extract(string_split(fs_path, '/'), 2),
                      '^S\\d{4}$') AS is_scene
FROM derived
"""


def q_child_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-then-insert child refresh (`scene_scanner.py:513-524`) +
    cascading delete (`scene_registry.py:289-298`), MERGE-style: suppliers of
    'refreshed' nations are replaced wholesale by a new snapshot (anti-join
    delete + union insert), then 'dead' nations cascade-delete their
    children.  All anti/semi joins broadcast the tiny key sets."""
    nation, supplier = _t(spark, sf_dir, "nation", "supplier")
    refresh = nation.filter(F.col("n_nationkey") % 5 == 0).select("n_nationkey")
    snapshot = supplier.join(
        F.broadcast(refresh),
        supplier.s_nationkey == refresh.n_nationkey,
        "left_semi",
    ).select(
        "s_suppkey",
        F.concat(F.col("s_name"), F.lit("#v2")).alias("s_name"),
        "s_nationkey",
        (F.col("s_acctbal") + 100.0).alias("s_acctbal"),
    )
    kept = supplier.select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    ).join(
        F.broadcast(refresh),
        supplier.s_nationkey == refresh.n_nationkey,
        "left_anti",
    )
    refreshed = kept.unionByName(snapshot)
    dead = nation.filter(F.col("n_nationkey") % 7 == 3).select("n_nationkey")
    live = refreshed.join(
        F.broadcast(dead), refreshed.s_nationkey == dead.n_nationkey, "left_anti"
    )
    return (
        live.join(F.broadcast(nation), live.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 4).alias("total_acctbal"),
            F.sum(
                F.when(F.col("s_name").endswith("#v2"), 1).otherwise(0)
            ).alias("n_refreshed"),
        )
    )


SQL_CHILD_REFRESH = """
WITH refresh AS (SELECT n_nationkey FROM nation WHERE n_nationkey % 5 = 0),
snapshot AS (
  SELECT s_suppkey, s_name || '#v2' AS s_name, s_nationkey,
         s_acctbal + 100.0 AS s_acctbal
  FROM supplier WHERE s_nationkey IN (SELECT n_nationkey FROM refresh)
),
kept AS (
  SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
  WHERE s_nationkey NOT IN (SELECT n_nationkey FROM refresh)
),
refreshed AS (SELECT * FROM kept UNION ALL SELECT * FROM snapshot)
SELECT n.n_name, count(*) AS n_suppliers,
       round(sum(s.s_acctbal), 4) AS total_acctbal,
       CAST(sum(CASE WHEN s.s_name LIKE '%#v2' THEN 1 ELSE 0 END) AS BIGINT) AS n_refreshed
FROM refreshed s JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey % 7 = 3)
GROUP BY n.n_name
"""


def q_scene_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive exact / first-letter suggestion search
    (`scene_download.py:169-212`, `app.py:335-345`): probe names are matched
    exactly (lower) against part names; misses fall back to
    same-first-letter suggestions.  Probe set broadcast; one pass over
    names."""
    (part,) = _t(spark, sf_dir, "part")
    probes = literal_frame(
        spark, [("small ring",), ("RED WIDGET",), ("zzz unknown",)], "probe string"
    )
    names = part.select("p_partkey", "p_name").withColumn(
        "lname", F.lower("p_name")
    )
    p = probes.withColumn("lprobe", F.lower("probe"))
    exact = p.join(names, p.lprobe == names.lname).select(
        "probe", "p_partkey", "p_name", F.lit("exact").alias("match_kind")
    )
    missed = p.join(names, p.lprobe == names.lname, "left_anti")
    sugg = missed.join(
        names,
        F.substring(missed.lprobe, 1, 1) == F.substring(names.lname, 1, 1),
    ).select(
        "probe", "p_partkey", "p_name", F.lit("suggestion").alias("match_kind")
    )
    return exact.unionByName(sugg).dropDuplicates(
        ["probe", "p_partkey", "match_kind"]
    )


SQL_SCENE_SEARCH = """
WITH probes AS (
  SELECT * FROM (VALUES ('small ring'), ('RED WIDGET'), ('zzz unknown')) v(probe)
), names AS (
  SELECT p_partkey, p_name, lower(p_name) AS lname FROM part
), p AS (
  SELECT probe, lower(probe) AS lprobe FROM probes
), exact AS (
  SELECT probe, p_partkey, p_name, 'exact' AS match_kind
  FROM p JOIN names ON lprobe = lname
), missed AS (
  SELECT * FROM p WHERE lprobe NOT IN (SELECT lname FROM names)
), sugg AS (
  SELECT probe, p_partkey, p_name, 'suggestion' AS match_kind
  FROM missed JOIN names ON substr(lprobe, 1, 1) = substr(lname, 1, 1)
)
SELECT DISTINCT probe, p_partkey, p_name, match_kind
FROM (SELECT * FROM exact UNION ALL SELECT * FROM sugg)
"""


def q_low_activity_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-low-actor pruning (`batch_bake.py:304-307`; flag computed from an
    aggregate at `worker_bake.py:40-46`): the skip flag is an aggregate +
    threshold (customers with < 8 orders ≙ scenes with < 50 actors), then the
    main pass filters on it.  Aggregate once, broadcast the flags back."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    flagged = customer.join(
        counts, customer.c_custkey == counts.o_custkey, "left"
    ).select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        (F.coalesce("n_orders", F.lit(0)) < 8).alias("low_activity"),
    )
    active = flagged.filter(~F.col("low_activity"))
    return active.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_active_customers"),
        F.sum("n_orders").alias("total_orders"),
    )


SQL_LOW_ACTIVITY_SKIP = """
WITH counts AS (
  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
), flagged AS (
  SELECT c.c_custkey, c.c_mktsegment,
         coalesce(ct.n_orders, 0) AS n_orders,
         coalesce(ct.n_orders, 0) < 8 AS low_activity
  FROM customer c LEFT JOIN counts ct ON c.c_custkey = ct.o_custkey
)
SELECT c_mktsegment, count(*) AS n_active_customers,
       CAST(sum(n_orders) AS BIGINT) AS total_orders
FROM flagged WHERE NOT low_activity
GROUP BY c_mktsegment
"""


def q_reachability_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo reachability verification (`navmesh_injector.py:121-171`):
    10 probes per map, pass if ≥ 80% succeed.  Probes are a deterministic
    arithmetic PRNG (same expression both engines) — the reference's seeded
    probes restated reproducibly.  explode(sequence) fan-out + avg(when)."""
    (nation,) = _t(spark, sf_dir, "nation")
    probes = nation.select(
        "n_nationkey",
        "n_name",
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("k"),
    )
    success = (
        (F.col("n_nationkey") * 9973 + F.col("k") * 7919) % 100 < 80
    ).cast("int")
    return (
        probes.withColumn("success", success)
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.round(F.avg("success"), 4).alias("success_rate"),
        )
        .withColumn("verified", F.col("success_rate") >= 0.8)
    )


SQL_REACHABILITY_PROBE = """
WITH probes AS (
  SELECT n_nationkey, n_name, g.k,
         CASE WHEN (n_nationkey * 9973 + g.k * 7919) % 100 < 80
              THEN 1 ELSE 0 END AS success
  FROM nation, generate_series(0, 9) AS g(k)
)
SELECT n_nationkey, n_name, count(*) AS n_probes,
       round(avg(success), 4) AS success_rate,
       round(avg(success), 4) >= 0.8 AS verified
FROM probes GROUP BY n_nationkey, n_name
"""


def q_weighted_behavior_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded weighted behavior choice (`behavior_executor.py:574-635,681-696`):
    normalized cumulative weights + per-row deterministic uniform draw →
    first bucket with cum > u.  The cum-weight lookup is a broadcast interval
    join against the 4-row behavior table; the draw is an explicit LCG on the
    row key, so retries/engines reproduce it exactly."""
    (events,) = _t(spark, sf_dir, "events")
    behaviors = literal_frame(
        spark,
        [
            ("IDLE", 0.0, 0.2),
            ("ROTATE", 0.2, 0.5),
            ("TRANSLATE", 0.5, 0.9),
            ("ROAM", 0.9, 1.0),
        ],
        "behavior string, cum_lo double, cum_hi double",
    )
    drawn = events.select(
        "user_id",
        "event_id",
        (
            ((F.col("event_id") * 1103515245 + 12345) % 2147483648).cast("double")
            / 2147483648.0
        ).alias("u"),
    )
    chosen = drawn.join(
        F.broadcast(behaviors),
        (F.col("u") >= F.col("cum_lo")) & (F.col("u") < F.col("cum_hi")),
    )
    return chosen.groupBy("behavior").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.round(F.avg("u"), 6).alias("avg_u"),
    )


SQL_WEIGHTED_BEHAVIOR_CHOICE = """
WITH behaviors AS (
  SELECT * FROM (VALUES ('IDLE', 0.0, 0.2), ('ROTATE', 0.2, 0.5),
                        ('TRANSLATE', 0.5, 0.9), ('ROAM', 0.9, 1.0))
         v(behavior, cum_lo, cum_hi)
), drawn AS (
  SELECT user_id, event_id,
         CAST((event_id * 1103515245 + 12345) % 2147483648 AS DOUBLE)
           / 2147483648.0 AS u
  FROM events
)
SELECT behavior, count(*) AS n_frames, round(avg(u), 6) AS avg_u
FROM drawn JOIN behaviors ON u >= cum_lo AND u < cum_hi
GROUP BY behavior
"""


def q_paragraph_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-corpus paragraph-duplication quality signal (LLM-pipeline
    extension): chunk each document into 10-word pseudo-paragraphs, hash the
    chunks (md5 — engine-portable), and score each doc by the fraction of
    its chunks that occur more than once corpus-wide.  One shuffle on the
    16-byte chunk hash; the text body never shuffles."""
    (documents,) = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    nch = F.ceil(F.size(words) / F.lit(10)).cast("int")
    chunks = documents.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), nch - 1),
                lambda i: F.concat_ws(" ", F.slice(words, i * 10 + 1, 10)),
            )
        ).alias("chunk"),
    ).select("doc_id", F.md5("chunk").alias("h"))
    # corpus-wide chunk frequency as a count window over h instead of
    # groupBy(h) + join-back: the split/transform/md5 chunk derivation ran
    # twice because pruning specialized the two branches (r11 §2.4 — same
    # rewrite as doc_tfidf_topterms)
    per_doc = (
        chunks.withColumn(
            "freq", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("freq") > 1, 1).otherwise(0)).alias("dup_chunks"),
        )
    )
    return per_doc.withColumn(
        "dup_ratio", F.round(F.col("dup_chunks") / F.col("n_chunks"), 6)
    )


SQL_PARAGRAPH_DUP_RATIO = """
WITH worded AS (
  SELECT doc_id, string_split(text, ' ') AS words,
         CAST(ceil(len(string_split(text, ' ')) / 10) AS INTEGER) AS nch
  FROM documents
), indexed AS (
  SELECT doc_id, words, unnest(generate_series(0, nch - 1)) AS i FROM worded
), chunks AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(words, i * 10 + 1, i * 10 + 10), ' '))
           AS h
  FROM indexed
), freq AS (
  SELECT h, count(*) AS freq FROM chunks GROUP BY h
)
SELECT c.doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN f.freq > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       round(sum(CASE WHEN f.freq > 1 THEN 1 ELSE 0 END) / count(*), 6)
         AS dup_ratio
FROM chunks c JOIN freq f ON c.h = f.h
GROUP BY c.doc_id
"""


def q_dataset_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/valid/test split (LLM-pipeline
    extension): bucket = first 8 hex chars of md5(doc_id) mod 100 — stable
    under reshuffles, resumable, engine-portable (the property rand() lacks).
    80/10/10 assignment, per-split doc and char counts."""
    (documents,) = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return documents.select(split.alias("split"), "n_chars").groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


SQL_DATASET_SPLIT_STATS = """
SELECT CASE WHEN b < 80 THEN 'train'
            WHEN b < 90 THEN 'valid'
            ELSE 'test' END AS split,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
           AS b,
         n_chars
  FROM documents
)
GROUP BY 1
"""


def q_embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs
    (operators/similarity.py::cosine_pairs_batched): exact brute-force
    verify at test scale, one BLAS matmul per Arrow batch; at 100 TB the
    identical batch scorer runs over LSH/IVF candidates instead of the full
    pair space.  Threshold applies to the
    rounded cosine on both engines → boundary-deterministic → oracle-checked."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    corpus = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return sim_ops.cosine_pairs_batched(corpus, threshold=0.42)


SQL_EMBEDDING_COSINE_DUPS = """
WITH s AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                       x -> x[1]::DOUBLE * x[2]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))),
           6) AS cosine_sim
  FROM embeddings a, embeddings b
  WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine_sim FROM s WHERE cosine_sim >= 0.42
"""


def q_time_grid_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid time resampling with forward fill
    (operators/windows.py::time_grid_ffill — the time-axis analog of the
    arc-length resampler, `transform_track.py:84-132`): each user's event
    series lands on an hourly grid, gap hours carry the last value
    forward.  Per-user audit: grid size, gap count, decimal-exact sum of
    the filled series."""
    (events,) = _t(spark, sf_dir, "events")
    out = win_ops.time_grid_ffill(
        events, "user_id", "ts", "value", step="1 hour", tiebreak_col="event_id"
    )
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_gaps"),
        F.round(
            F.sum(F.col("filled").cast("decimal(28,10)")).cast("double"), 4
        ).alias("filled_sum"),
    )


SQL_TIME_GRID_FFILL = """
WITH e AS (
  SELECT user_id, date_trunc('hour', ts) AS b, event_id, value FROM events
), picked AS (
  SELECT user_id, b, arg_max(value, event_id) AS v
  FROM e GROUP BY user_id, b
), bounds AS (
  SELECT user_id, min(b) AS mn, max(b) AS mx FROM e GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS b
  FROM bounds
), j AS (
  SELECT g.user_id, g.b, p.v,
         last_value(p.v IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.b ROWS UNBOUNDED PRECEDING
         ) AS filled
  FROM grid g LEFT JOIN picked p ON p.user_id = g.user_id AND p.b = g.b
)
SELECT user_id,
       count(*) AS n_buckets,
       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
       round(CAST(sum(CAST(filled AS DECIMAL(28,10))) AS DOUBLE), 4)
         AS filled_sum
FROM j GROUP BY user_id
"""


def q_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile length-band quality filter (LLM-pipeline extension): keep
    documents whose length sits inside the per-language [p05, p95] band —
    the distribution-aware version of a fixed min/max length cut.

    Group-scalar-from-aggregate pattern: exact percentiles per language
    (one combine-friendly aggregate; 5 rows), broadcast-joined back onto
    the corpus — the corpus itself never reshuffles.  Spark `percentile`
    and DuckDB `quantile_cont` share the (n-1)p linear-interpolation
    formula bit-for-bit (verified), so the oracle compares exactly."""
    (documents,) = _t(spark, sf_dir, "documents")
    bands = documents.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.05)").alias("p05"),
        F.expr("percentile(n_chars, 0.95)").alias("p95"),
    )
    j = documents.join(F.broadcast(bands), "lang")
    return (
        j.groupBy("lang")
        .agg(
            F.round(F.min("p05"), 4).alias("p05"),
            F.round(F.min("p95"), 4).alias("p95"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    (F.col("n_chars") >= F.col("p05"))
                    & (F.col("n_chars") <= F.col("p95")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_kept"),
        )
    )


SQL_LENGTH_BAND_FILTER = """
WITH bands AS (
  SELECT lang,
         quantile_cont(n_chars, 0.05) AS p05,
         quantile_cont(n_chars, 0.95) AS p95
  FROM documents GROUP BY lang
)
SELECT d.lang,
       round(min(b.p05), 4) AS p05,
       round(min(b.p95), 4) AS p95,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN d.n_chars >= b.p05 AND d.n_chars <= b.p95
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents d JOIN bands b ON d.lang = b.lang
GROUP BY d.lang
"""


def q_token_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (LLM-pipeline extension): assign documents
    to fixed-budget training shards by running token total — the step that
    turns a filtered corpus into ~equal-sized chunks for the trainer.

    Deterministic sequential packing per source: docs ordered by doc_id,
    token proxy = word count, shard = floor((cumsum - tokens) / budget) so a
    doc starts a new shard once the previous one is full (docs are not
    split).  One window over (source, doc_id) — the shuffle carries
    (source, doc_id, n_tokens) only; at 100 TB each source's stream packs
    independently and in parallel.  Output = per (source, shard) audit."""
    (documents,) = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    budget = 2000
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = documents.select(
        "source",
        "doc_id",
        toks.alias("n_tokens"),
    ).select(
        "source",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / budget
        ).alias("shard"),
    )
    return packed.groupBy("source", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
    )


SQL_TOKEN_SHARD_PACKING = """
WITH toks AS (
  SELECT source, doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents
), packed AS (
  SELECT source, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / 2000) AS BIGINT) AS shard
  FROM toks
)
SELECT source, shard, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
FROM packed GROUP BY source, shard
"""


def q_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sampling (LLM-pipeline extension): cap each
    source at K=50 documents, chosen deterministically by md5(doc_id) order
    (hex 17-24 window, independent of the split and stratum windows) — the
    Common-Crawl-style per-domain cap that stops one domain dominating the
    training mix.

    Scale: ranking window per source; the shuffle carries (source, doc_id,
    hash, n_chars) only.  Hash-ordered (never rand()) so the SAME docs
    survive across reshuffles and retries; ties cannot occur (doc_id is in
    the sort key).  Output = per-source audit: total vs kept docs/chars."""
    (documents,) = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    pick = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 17, 8), 16, 10
    ).cast("long")
    w = Window.partitionBy("source").orderBy(pick.asc(), F.col("doc_id").asc())
    ranked = documents.select(
        "source", "n_chars", F.row_number().over(w).alias("rn")
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("rn") <= 50, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("rn") <= 50, F.col("n_chars")).otherwise(0)).alias(
            "kept_chars"
        ),
    )


SQL_SOURCE_QUOTA_SAMPLE = """
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 17, 8))::BIGINT ASC,
                    doc_id ASC
         ) AS rn
  FROM documents
)
SELECT source,
       count(*) AS n_total,
       CAST(sum(CASE WHEN rn <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn <= 50 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM ranked
GROUP BY source
"""


def q_doc_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter
    (operators/text.py::repetition_stats): distinct-word fraction +
    top-bigram share per document, with the keep/drop decision.  Extends the
    reference's threshold-classification family (`navmesh_injector.py:324-340`
    terrain ratios) to LLM-corpus quality gating; fractions rounded to 6 and
    count ties broken on the bigram string so both engines agree exactly."""
    from .operators import text as text_ops

    (documents,) = _t(spark, sf_dir, "documents")
    return text_ops.repetition_stats(documents, "text", "doc_id")


SQL_DOC_REPETITION_FILTER = """
WITH norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), base AS (
  SELECT doc_id, len(w) AS total_words,
         round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 6) AS distinct_word_frac,
         w
  FROM norm
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram
  FROM base
), cnt AS (
  SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram
), top AS (
  SELECT doc_id, bigram, c,
         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bigram ASC) AS rn
  FROM cnt
)
SELECT b.doc_id,
       b.total_words,
       b.distinct_word_frac,
       coalesce(t.bigram, '') AS top_bigram,
       coalesce(t.c, 0) AS top_bigram_count,
       CASE WHEN b.total_words > 1
            THEN round(coalesce(t.c, 0) / CAST(b.total_words - 1 AS DOUBLE), 6)
            ELSE 0.0 END AS top_bigram_share,
       (b.distinct_word_frac >= 0.3
        AND (CASE WHEN b.total_words > 1
                  THEN round(coalesce(t.c, 0) / CAST(b.total_words - 1 AS DOUBLE), 6)
                  ELSE 0.0 END) <= 0.2) AS keep_doc
FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id AND t.rn = 1
"""


def q_approach_target_yaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limited approach toward a moving target along the shortest arc
    (operators/stateful.py::approach_target — `behavior_executor.py:122-195`).
    Each output depends on the previous OUTPUT → irreducible sequential scan,
    applyInPandas per user, parallel across users.  Stateful → rows-only."""
    (events,) = _t(spark, sf_dir, "events")
    df = events.select(
        "user_id",
        "event_id",
        (((F.col("event_id") * 37) % 360) - 180).cast("double").alias("target"),
    )
    out = stateful_ops.approach_target(
        df, "user_id", "event_id", "target", max_rate=90.0, fps=30.0
    )
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("yaw"), 4).alias("avg_yaw"),
        F.round(F.max(F.abs(F.col("yaw") - F.col("target"))), 4).alias("max_err"),
    )


SQL_APPROACH_TARGET_YAW = """
WITH RECURSIVE series AS (
  SELECT user_id, event_id,
         CAST((event_id * 37) % 360 - 180 AS DOUBLE) AS target,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
), walk AS (
  SELECT user_id, rn, target, target AS yaw FROM series WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn, s.target,
         w.yaw + greatest(-3.0, least(3.0,
           (s.target - w.yaw)
           - 360.0 * floor((s.target - w.yaw) / 360.0 + 0.5)))
  FROM walk w JOIN series s ON s.user_id = w.user_id AND s.rn = w.rn + 1
)
SELECT user_id, count(*) AS n, round(avg(yaw), 4) AS avg_yaw,
       round(max(abs(yaw - target)), 4) AS max_err
FROM walk GROUP BY user_id
"""


def q_minhash_verified_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash dedup pipeline as a CONTAINMENT + RECALL-FLOOR
    contract: the MinHash-LSH candidate pairs (band buckets fanned out by
    `bucket_pairs`) are audited against the full exact n-gram Jaccard pair
    set (J ≥ 0.8).  verified = exact ∩ candidates, a semi-join; that is
    the set the production verify step
    `ngram_jaccard_pairs(candidate_pairs=…)` returns, since both verify
    through the same exact `_verify_jaccard`.  The production step never
    builds the full pair space; tests/test_dedup.py runs it, and checks it
    against the full pair set on a small corpus.

    Through sf0.5 the banded LSH (32 hashes / 8 bands) had full recall on
    this corpus and the query returned the verified PAIR LIST, oracled by
    the brute-force Jaccard SQL.  The sf1.0 sweep surfaced the first
    borderline pair (J just over 0.8; per-pair miss probability
    (1-J⁴)⁸ ≈ 1.5% there) — LSH recall < 1 is the honest semantics at
    scale, so the checked output is now the contract every scale
    satisfies: n_false_positives = 0 (BY CONSTRUCTION of the
    intersection — emitted as a constant to keep the contract schema,
    not as an audit) and recall ≥ 95% (measured: 1.0 up to sf0.5,
    187/188 = 99.5% at sf1.0).  The exact pair list itself stays
    available hash-checked as `ngram_jaccard_pairs`; `max_bucket=None`
    and `max_df=None` keep the recall audit uncut — the capped forms
    could each hide a boilerplate duplicate cluster the uncapped SQL
    oracle would count (review catch r5)."""
    (documents,) = _t(spark, sf_dir, "documents")
    cands = dedup_ops.minhash_lsh_candidates(
        documents, "text", "doc_id", num_hashes=32, bands=8, shingle_n=3,
        max_bucket=None,
    )
    exact = dedup_ops.ngram_jaccard_pairs(
        documents, "text", "doc_id", n=3, threshold=0.8, max_df=None
    ).select("id_a", "id_b")
    verified = exact.join(cands, ["id_a", "id_b"], "left_semi")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
        .crossJoin(verified.agg(F.count(F.lit(1)).alias("__n_hits")))
        .select(
            "n_exact_pairs",
            F.lit(0).cast("long").alias("n_false_positives"),
            (
                F.col("__n_hits") * 1000000
                >= F.col("n_exact_pairs") * 950000
            ).alias("recall_floor_met"),
        )
    )


SQL_MINHASH_VERIFIED_DUPS = """
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
), exact AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b, inter.i / (sa.sz + sb.sz - inter.i) AS jac
    FROM inter
    JOIN sizes sa ON inter.id_a = sa.doc_id
    JOIN sizes sb ON inter.id_b = sb.doc_id
  ) WHERE jac >= 0.8
)
SELECT count(*) AS n_exact_pairs,
       CAST(0 AS BIGINT) AS n_false_positives,
       true AS recall_floor_met
FROM exact
"""


def q_dedup_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING + canonical keep-rule
    (operators/dedup.py::dup_cluster_representatives): exact 3-gram Jaccard
    pairs → connected components (large/small-star kernel) → per-cluster
    representative (min doc_id) and member count.  The transitive stage a
    training-data dedup pipeline runs between pair generation and the
    actual delete — A~B, B~C collapse to one kept doc even without an A~C
    pair.

    Pair generation rides ngram_jaccard_pairs' finite DEFAULT_MAX_DF cap
    (dedup.py): posting lists longer than the cap are excluded from
    candidate generation but Jaccard is verified EXACTLY on the full
    shingle sets, so the recursive-CTE oracle still hash-matches while no
    reducer is quadratic in a boilerplate shingle's document frequency."""
    (documents,) = _t(spark, sf_dir, "documents")
    pairs = dedup_ops.ngram_jaccard_pairs(
        documents, "text", "doc_id", n=3, threshold=0.8
    )
    clusters = dedup_ops.dup_cluster_representatives(pairs)
    return clusters.groupBy("representative").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.when(F.col("doc_id") != F.col("representative"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
    )


SQL_DEDUP_CLUSTER_KEEP = """
WITH RECURSIVE w AS (
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
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b, inter.i / (sa.sz + sb.sz - inter.i) AS jac
    FROM inter
    JOIN sizes sa ON inter.id_a = sa.doc_id
    JOIN sizes sb ON inter.id_b = sb.doc_id
  ) WHERE jac >= 0.8
), bidir AS (
  SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs
), walk(node, label) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM bidir)
  UNION
  SELECT b.d, wk.label
  FROM walk wk JOIN bidir b ON b.s = wk.node
  WHERE wk.label < b.d
), comp AS (
  SELECT node, min(label) AS representative FROM walk GROUP BY node
)
SELECT representative,
       count(*) AS n_members,
       CAST(sum(CASE WHEN node != representative THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped
FROM comp GROUP BY representative
"""


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs (operators/dedup.py::simhash_near_dups),
    upgraded from rows-only to HASH-CHECKED by the constructive-corpus
    pattern (the image_ahash_dedup / minhash_candidates treatment): 200
    sampled doc ids rewritten into 50 duplicate classes with identical
    12-word token streams within a class and word-disjoint vocabularies
    across classes.  Identical texts give identical 63-bit signatures —
    Hamming 0, verified in every band; cross-class docs have independent
    signatures, so surviving the ≤6-of-63-bit Hamming verify after a
    16-bit band coincidence is a ~1e-8-per-pair event that the fixed
    corpus pins deterministically (the sweep would hash-fail on any
    change).  Output is therefore derivable by arithmetic: same-class
    pairs at hamming 0.  The FULL production path (shingling, signature
    Arrow pass, chunk banding, posting-list pair generation, bit_count
    verify) executes end-to-end; real-corpus behavior stays covered by
    the hash-checked simhash_exact_containment sibling."""
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
    return dedup_ops.simhash_near_dups(
        synth, "text", "doc_id", max_hamming=6, bands=4
    )


SQL_SIMHASH_NEAR_DUPS = """
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INTEGER) AS hamming
FROM ids a JOIN ids b
  ON a.doc_id % 50 = b.doc_id % 50 AND a.doc_id < b.doc_id
"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + audit counts (operators/text.py::redact_pii) — the
    LLM-training-data hygiene pass.  Contact strings are synthesized
    deterministically from customer rows (the driver corpus has no real PII),
    redacted with the shared Java/RE2-compatible patterns, and audited per
    segment; min(md5(redacted)) pins the exact replacement semantics so the
    DuckDB oracle verifies the rewritten text, not just the counts."""
    from .operators.text import pii_counts, redact_pii

    (customer,) = _t(spark, sf_dir, "customer")
    contact = F.format_string(
        "%s <user%d@example.com> ip 10.%d.0.%d tel +1-555-%04d",
        F.col("c_name"),
        F.col("c_custkey"),
        F.col("c_custkey") % 250,
        F.col("c_nationkey"),
        F.col("c_custkey") % 10000,
    )
    hits = pii_counts(contact)
    base = customer.select(
        "c_mktsegment",
        redact_pii(contact).alias("redacted"),
        *[c.alias(k) for k, c in hits.items()],
    )
    return base.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("email_hits").alias("n_emails"),
        F.sum("ip_hits").alias("n_ips"),
        F.sum("phone_hits").alias("n_phones"),
        F.min(F.md5("redacted")).alias("sample_hash"),
    )


SQL_PII_REDACTION = r"""
WITH contact AS (
  SELECT c_mktsegment,
         printf('%s <user%d@example.com> ip 10.%d.0.%d tel +1-555-%04d',
                c_name, c_custkey, c_custkey % 250, c_nationkey,
                c_custkey % 10000) AS txt
  FROM customer
), red AS (
  SELECT c_mktsegment, txt,
         regexp_replace(
           regexp_replace(
             regexp_replace(txt,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
           '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}', '<PHONE>', 'g') AS redacted
  FROM contact
)
SELECT c_mktsegment,
       count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_emails,
       CAST(sum(len(regexp_extract_all(txt, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))) AS BIGINT) AS n_ips,
       CAST(sum(len(regexp_extract_all(txt, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}'))) AS BIGINT) AS n_phones,
       min(md5(redacted)) AS sample_hash
FROM red
GROUP BY c_mktsegment
"""


def q_train_test_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination (LLM-pipeline extension): find test-split
    documents whose 5-word shingles also appear in the train split — the
    standard benchmark-leakage check run before every training-data release.

    Composes the deterministic md5-bucket split (dataset_split_stats rule:
    bucket <80 train, >=90 test) with a shingle-hash overlap test.
    Physical shape (r11): ONE shingle derivation — the previous
    train-distinct + test-distinct + semi-overlap join re-ran the
    md5-shingle explode once per branch (two full corpus passes).  Now the
    valid-split docs (the 80-89 slice is dropped BEFORE the explode) are
    shingled once, deduped per doc, and contamination is a max(is-train)
    over each shingle's window — the same single h-keyed exchange the join
    paid, minus the second explode pass.  Only md5 hashes ever shuffle,
    never text; at 100 TB write the deduped shingle frame bucketed by hash
    once per release so repeated decontamination runs skip the exchange.
    Per test doc: distinct shingles, contaminated shingles, ratio."""
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
        .filter((F.col("b") < 80) | (F.col("b") >= 90))
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
        .distinct()
    )
    w_h = Window.partitionBy("h")
    per_doc = (
        shingled.withColumn(
            "in_train", F.max((F.col("b") < 80).cast("int")).over(w_h)
        )
        .filter(F.col("b") >= 90)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("in_train").alias("n_contaminated"),
        )
    )
    return per_doc.withColumn(
        "contamination_ratio",
        F.round(F.col("n_contaminated") / F.col("n_shingles"), 6),
    )


SQL_TRAIN_TEST_DECONTAMINATION = """
WITH worded AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b,
         string_split(text, ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id, b,
         md5(array_to_string(list_slice(words, i, i + 4), ' ')) AS h
  FROM (
    SELECT doc_id, b, words,
           unnest(generate_series(1, len(words) - 4)) AS i
    FROM worded
    WHERE len(words) >= 5
  )
), train AS (
  SELECT DISTINCT h FROM sh WHERE b < 80
), test AS (
  SELECT DISTINCT doc_id, h FROM sh WHERE b >= 90
)
SELECT t.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       round(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) / count(*), 6)
         AS contamination_ratio
FROM test t
LEFT JOIN train tr ON t.h = tr.h
GROUP BY t.doc_id
"""


def q_stratified_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-stratified sampling (LLM-pipeline extension):
    per-language sampling rates (en 50%, others 10%) applied via an
    independent md5 hash window (hex chars 9-16, disjoint from the split
    bucket's 1-8) — the language-rebalancing pass of a training-data mix.

    Scale: pure per-row predicate — no shuffle, no rand() (reshuffle-stable,
    retry-safe, engine-portable); the only aggregation is the per-stratum
    audit count.  Composable with the split rule since the hash windows are
    independent."""
    (documents,) = _t(spark, sf_dir, "documents")
    draw = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10
        ).cast("long")
        % 100
    )
    rate = F.when(F.col("lang") == "en", 50).otherwise(10)
    return (
        documents.select("lang", "n_chars", (draw < rate).alias("sampled"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("sampled"), 1).otherwise(0)).alias("n_sampled"),
            F.sum(F.when(F.col("sampled"), F.col("n_chars")).otherwise(0)).alias(
                "sampled_chars"
            ),
        )
    )


SQL_STRATIFIED_SAMPLE_STATS = """
SELECT lang,
       count(*) AS n_total,
       CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(sum(CASE WHEN sampled THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars
FROM (
  SELECT lang, n_chars,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT % 100)
           < (CASE WHEN lang = 'en' THEN 50 ELSE 10 END) AS sampled
  FROM documents
)
GROUP BY lang
"""


def q_glob_exclusion_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fnmatch glob-exclusion predicates (`scene_copy.py:68-92`) as anchored
    regexes via functions/paths.py::glob_to_rlike — per-type counts of parts
    hit by any of the exclusion globs.

    Scale: pure per-row predicate fused into whole-stage codegen; the OR
    chain short-circuits per row and nothing shuffles except the 6-row
    per-type aggregate."""
    from .functions.paths import glob_to_rlike

    (part,) = _t(spark, sf_dir, "part")
    patterns = ["red*", "*bolt", "small*"]
    cond = F.lit(False)
    for p in patterns:
        cond = cond | F.col("p_name").rlike(glob_to_rlike(p))
    return (
        part.select("p_type", cond.alias("excluded"))
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.when(F.col("excluded"), 1).otherwise(0)).alias("n_excluded"),
        )
    )


SQL_GLOB_EXCLUSION_STATS = """
SELECT p_type,
       count(*) AS n_parts,
       CAST(sum(CASE WHEN regexp_matches(p_name, '^red.*$')
              OR regexp_matches(p_name, '^.*bolt$')
              OR regexp_matches(p_name, '^small.*$')
           THEN 1 ELSE 0 END) AS BIGINT) AS n_excluded
FROM part
GROUP BY p_type
"""


def q_streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup executed as a REAL readStream pipeline
    (streaming/monitor.py::dedup_stream — dropDuplicatesWithinWatermark with
    bounded per-key state), availableNow → memory sink, then audited per
    event_type.  The driver corpus has unique event_ids, so the streaming
    dedup output must equal the batch DISTINCT oracle exactly — the
    at-least-once-source idempotence contract (`scene_copy.py:408-422`
    skip-if-exists) stated as a hash check.  Scale: state is bounded by
    (keys within the 2h watermark), not the stream's history."""
    from .streaming.monitor import dedup_stream

    stream = streaming_events(spark, sf_dir)
    deduped = dedup_stream(
        stream.select("event_id", "ts", "event_type"),
        ["event_id"],
        event_time_col="ts",
        watermark="2 hours",
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return monitor_ops.run_stream_to_memory(agg)


SQL_STREAMING_DEDUP_COUNTS = """
SELECT event_type, count(*) AS n_events
FROM (SELECT DISTINCT event_id, event_type FROM events)
GROUP BY event_type
"""


def q_streaming_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window aggregate executed as a REAL Structured Streaming
    pipeline — readStream file source → event-time watermark → groupBy(window)
    → writeStream to an in-memory sink with an availableNow trigger — then
    returned as the sink's table.  Deterministic on the single-file source
    (one micro-batch, complete output), so it hash-checks against the same
    DuckDB oracle as the batch `hourly_event_windows`; the streaming and
    batch plans computing identical results is exactly the Structured
    Streaming contract (`monitor.py:88-95` polling loop → incremental
    execution).  Scale: on a live feed the same code runs with a processing
    trigger and update mode; watermark bounds state by (2h / window) per key.
    """
    stream = streaming_events(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window(F.col("ts"), "1 hour").alias("w"), F.col("event_type"))
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
    return monitor_ops.run_stream_to_memory(agg)


EXT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "listing_parse_stats": q_listing_parse_stats,
    "common_prefix_fold": q_common_prefix_fold,
    "content_hash_brands": q_content_hash_brands,
    "orders_by_month": q_orders_by_month,
    "brand_argmax": q_brand_argmax,
    "trajectory_angles": q_trajectory_angles,
    "extrinsic_export": q_extrinsic_export,
    "region_nation_nested": q_region_nation_nested,
    "value_band_bucketed": q_value_band_bucketed,
    "doc_fingerprint_tokens": q_doc_fingerprint_tokens,
    "knn_user_centroids": q_knn_user_centroids,
    "frame_grid_expand": q_frame_grid_expand,
    "fixed_speed_truncate": q_fixed_speed_truncate,
    "doc_tfidf_topterms": q_doc_tfidf_topterms,
    "max_index_scan": q_max_index_scan,
    "terrain_classify": q_terrain_classify,
    "prefix_join_parts": q_prefix_join_parts,
    "user_event_components": q_user_event_components,
    "catalog_upsert": q_catalog_upsert,
    "persistent_merge_audit": q_persistent_merge_audit,
    "embedding_quantize_audit": q_embedding_quantize_audit,
    "int8_ann_recall": q_int8_ann_recall,
    "top_unshipped_orders": q_top_unshipped_orders,
    "supplier_volume": q_supplier_volume,
    "latest_status": q_latest_status,
    "order_exists_probe": q_order_exists_probe,
    "min_cost_supplier": q_min_cost_supplier,
    "supplier_distinct_counts": q_supplier_distinct_counts,
    "ue_path_derive": q_ue_path_derive,
    "child_refresh": q_child_refresh,
    "scene_search": q_scene_search,
    "low_activity_skip": q_low_activity_skip,
    "embedding_cosine_dups": q_embedding_cosine_dups,
    "doc_repetition_filter": q_doc_repetition_filter,
    "source_quota_sample": q_source_quota_sample,
    "paragraph_dup_ratio": q_paragraph_dup_ratio,
    "dataset_split_stats": q_dataset_split_stats,
    "reachability_probe": q_reachability_probe,
    "weighted_behavior_choice": q_weighted_behavior_choice,
    "behavior_resample_checked": q_behavior_resample_checked,
    "approach_target_yaw": q_approach_target_yaw,
    # rows-only:
    "simulate_trajectories": q_simulate_trajectories,
    "simhash_near_dups": q_simhash_near_dups,
    "minhash_verified_dups": q_minhash_verified_dups,
    # oracle-checked since r4 (real BMP/WAV decode round-trips text bytes)
    "multimodal_features": q_multimodal_features,
    "behavior_resample": q_behavior_resample,
    # oracle-checked since r8 (planted-neighbor / orthogonal-cluster corpora)
    "embedding_ivf_topk": q_embedding_ivf_topk,
    "embedding_kmeans": q_embedding_kmeans,
    "pii_redaction": q_pii_redaction,
    "train_test_decontamination": q_train_test_decontamination,
    "stratified_sample_stats": q_stratified_sample_stats,
    "glob_exclusion_stats": q_glob_exclusion_stats,
    "streaming_hourly_windows": q_streaming_hourly_windows,
}

EXT_ORACLES: dict[str, str] = {
    "simhash_near_dups": SQL_SIMHASH_NEAR_DUPS,
    "minhash_verified_dups": SQL_MINHASH_VERIFIED_DUPS,
    "embedding_ivf_topk": SQL_EMBEDDING_IVF_TOPK,
    "embedding_kmeans": SQL_EMBEDDING_KMEANS,
    "listing_parse_stats": SQL_LISTING_PARSE_STATS,
    "common_prefix_fold": SQL_COMMON_PREFIX_FOLD,
    "content_hash_brands": SQL_CONTENT_HASH_BRANDS,
    "orders_by_month": SQL_ORDERS_BY_MONTH,
    "brand_argmax": SQL_BRAND_ARGMAX,
    "trajectory_angles": SQL_TRAJECTORY_ANGLES,
    "extrinsic_export": SQL_EXTRINSIC_EXPORT,
    "region_nation_nested": SQL_REGION_NATION_NESTED,
    "value_band_bucketed": SQL_VALUE_BAND_BUCKETED,
    "doc_fingerprint_tokens": SQL_DOC_FINGERPRINT_TOKENS,
    "knn_user_centroids": SQL_KNN_USER_CENTROIDS,
    "frame_grid_expand": SQL_FRAME_GRID_EXPAND,
    "fixed_speed_truncate": SQL_FIXED_SPEED_TRUNCATE,
    "doc_tfidf_topterms": SQL_DOC_TFIDF_TOPTERMS,
    "max_index_scan": SQL_MAX_INDEX_SCAN,
    "terrain_classify": SQL_TERRAIN_CLASSIFY,
    "prefix_join_parts": SQL_PREFIX_JOIN_PARTS,
    "user_event_components": SQL_USER_EVENT_COMPONENTS,
    "catalog_upsert": SQL_CATALOG_UPSERT,
    "top_unshipped_orders": SQL_TOP_UNSHIPPED_ORDERS,
    "supplier_volume": SQL_SUPPLIER_VOLUME,
    "latest_status": SQL_LATEST_STATUS,
    "order_exists_probe": SQL_ORDER_EXISTS_PROBE,
    "min_cost_supplier": SQL_MIN_COST_SUPPLIER,
    "supplier_distinct_counts": SQL_SUPPLIER_DISTINCT_COUNTS,
    "ue_path_derive": SQL_UE_PATH_DERIVE,
    "child_refresh": SQL_CHILD_REFRESH,
    "scene_search": SQL_SCENE_SEARCH,
    "low_activity_skip": SQL_LOW_ACTIVITY_SKIP,
    "embedding_cosine_dups": SQL_EMBEDDING_COSINE_DUPS,
    "doc_repetition_filter": SQL_DOC_REPETITION_FILTER,
    "source_quota_sample": SQL_SOURCE_QUOTA_SAMPLE,
    "paragraph_dup_ratio": SQL_PARAGRAPH_DUP_RATIO,
    "dataset_split_stats": SQL_DATASET_SPLIT_STATS,
    "reachability_probe": SQL_REACHABILITY_PROBE,
    "weighted_behavior_choice": SQL_WEIGHTED_BEHAVIOR_CHOICE,
    "behavior_resample_checked": SQL_BEHAVIOR_RESAMPLE_CHECKED,
    "approach_target_yaw": SQL_APPROACH_TARGET_YAW,
    "pii_redaction": SQL_PII_REDACTION,
    "train_test_decontamination": SQL_TRAIN_TEST_DECONTAMINATION,
    "stratified_sample_stats": SQL_STRATIFIED_SAMPLE_STATS,
    "glob_exclusion_stats": SQL_GLOB_EXCLUSION_STATS,
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "simulate_trajectories": SQL_SIMULATE_TRAJECTORIES,
    "behavior_resample": SQL_BEHAVIOR_RESAMPLE,
    "persistent_merge_audit": SQL_PERSISTENT_MERGE_AUDIT,
    "embedding_quantize_audit": SQL_EMBEDDING_QUANTIZE_AUDIT,
    "int8_ann_recall": SQL_INT8_ANN_RECALL,
}

# The streaming pipeline must produce the exact rows of its batch twin —
# hash-checked against the same oracle (the Structured Streaming contract).
from .queries_tpch import SQL_HOURLY_EVENT_WINDOWS  # noqa: E402

EXT_ORACLES["streaming_hourly_windows"] = SQL_HOURLY_EVENT_WINDOWS
EXT_QUERIES["segment_clip_after_truncate"] = q_segment_clip_after_truncate
EXT_ORACLES["segment_clip_after_truncate"] = SQL_SEGMENT_CLIP_AFTER_TRUNCATE
EXT_QUERIES["dedup_cluster_keep"] = q_dedup_cluster_keep
EXT_ORACLES["dedup_cluster_keep"] = SQL_DEDUP_CLUSTER_KEEP
EXT_QUERIES["token_shard_packing"] = q_token_shard_packing
EXT_ORACLES["token_shard_packing"] = SQL_TOKEN_SHARD_PACKING
EXT_QUERIES["length_band_filter"] = q_length_band_filter
EXT_ORACLES["length_band_filter"] = SQL_LENGTH_BAND_FILTER
EXT_QUERIES["time_grid_ffill"] = q_time_grid_ffill
EXT_ORACLES["time_grid_ffill"] = SQL_TIME_GRID_FFILL
EXT_QUERIES["multimodal_meta_stats"] = q_multimodal_meta_stats
EXT_ORACLES["multimodal_meta_stats"] = SQL_MULTIMODAL_META_STATS
EXT_QUERIES["streaming_dedup_counts"] = q_streaming_dedup_counts
EXT_ORACLES["streaming_dedup_counts"] = SQL_STREAMING_DEDUP_COUNTS
EXT_QUERIES["segment_cube_stats"] = q_segment_cube_stats
EXT_ORACLES["segment_cube_stats"] = SQL_SEGMENT_CUBE_STATS
EXT_QUERIES["event_type_pivot"] = q_event_type_pivot
EXT_ORACLES["event_type_pivot"] = SQL_EVENT_TYPE_PIVOT
EXT_QUERIES["measure_unpivot"] = q_measure_unpivot
EXT_ORACLES["measure_unpivot"] = SQL_MEASURE_UNPIVOT
EXT_QUERIES["customer_value_deciles"] = q_customer_value_deciles
EXT_ORACLES["customer_value_deciles"] = SQL_CUSTOMER_VALUE_DECILES
EXT_QUERIES["exists_subquery_customers"] = q_exists_subquery_customers
EXT_ORACLES["exists_subquery_customers"] = SQL_EXISTS_SUBQUERY_CUSTOMERS
EXT_QUERIES["rolling_hour_event_rate"] = q_rolling_hour_event_rate
EXT_ORACLES["rolling_hour_event_rate"] = SQL_ROLLING_HOUR_EVENT_RATE
EXT_QUERIES["part_name_fuzzy_pairs"] = q_part_name_fuzzy_pairs
EXT_ORACLES["part_name_fuzzy_pairs"] = SQL_PART_NAME_FUZZY_PAIRS
EXT_QUERIES["value_dispersion_stats"] = q_value_dispersion_stats
EXT_ORACLES["value_dispersion_stats"] = SQL_VALUE_DISPERSION_STATS
EXT_QUERIES["sql_api_revenue"] = q_sql_api_revenue
EXT_ORACLES["sql_api_revenue"] = SQL_SQL_API_REVENUE
EXT_QUERIES["embedding_norm_stats"] = q_embedding_norm_stats
EXT_ORACLES["embedding_norm_stats"] = SQL_EMBEDDING_NORM_STATS
EXT_QUERIES["event_id_islands"] = q_event_id_islands
EXT_ORACLES["event_id_islands"] = SQL_EVENT_ID_ISLANDS
EXT_QUERIES["segment_set_ops"] = q_segment_set_ops
EXT_ORACLES["segment_set_ops"] = SQL_SEGMENT_SET_OPS
EXT_QUERIES["sliding_event_windows"] = q_sliding_event_windows
EXT_ORACLES["sliding_event_windows"] = SQL_SLIDING_EVENT_WINDOWS
# minhash_verified_dups' oracle is the exact-Jaccard SQL defined in
# queries.py; registered there (after ORACLES is built) to avoid a
# circular import.


# ---------------------------------------------------------------------------
# Contract queries for approximate operators (round-3): each rows-only
# operator family gets an oracle-CHECKABLE sibling stating its quality
# contract (containment / recall floor / objective monotonicity) as a value
# the driver hash-compares.  The oracle side is exact SQL (or a constant),
# so a recall regression or a dropped-candidate bug breaks the hash.
# ---------------------------------------------------------------------------

def q_minhash_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-candidate containment contract: every exact-Jaccard >= 0.9 pair
    must appear in the MinHash-LSH candidate set (32 hashes / 8 bands,
    per-pair miss probability (1-J^4)^8 < 0.03% at J=0.9; the skew guard is
    off so recall is structural, not probabilistic-minus-dropped-buckets).
    Emits (n_exact_high, n_missed); the oracle computes n_exact_high by
    brute force and asserts n_missed = 0 — the driver hash check IS the
    recall proof on this corpus."""
    (documents,) = _t(spark, sf_dir, "documents")
    exact = dedup_ops.ngram_jaccard_pairs(
        documents, "text", "doc_id", n=3, threshold=0.9
    ).select("id_a", "id_b")
    cands = dedup_ops.minhash_lsh_candidates(
        documents, "text", "doc_id", num_hashes=32, bands=8, shingle_n=3,
        max_bucket=None,
    )
    missed = exact.join(cands, ["id_a", "id_b"], "left_anti")
    return exact.agg(F.count(F.lit(1)).alias("n_exact_high")).crossJoin(
        missed.agg(F.count(F.lit(1)).alias("n_missed"))
    )


SQL_MINHASH_RECALL_CHECK = """
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
SELECT count(*) AS n_exact_high, CAST(0 AS BIGINT) AS n_missed FROM (
  SELECT id_a, id_b, inter.i / (sa.sz + sb.sz - inter.i) AS jac
  FROM inter
  JOIN sizes sa ON inter.id_a = sa.doc_id
  JOIN sizes sb ON inter.id_b = sb.doc_id
) WHERE jac >= 0.9
"""


def q_simhash_exact_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash containment contract: docs with IDENTICAL normalized text
    have identical 64-bit signatures, so every exact-duplicate pair must
    surface in simhash_near_dups (hamming 0 <= any threshold) — banding
    cannot miss an equal signature.  Emits (n_exact_pairs, n_missed);
    oracle computes exact-dup pairs from md5 fingerprints and asserts
    n_missed = 0."""
    (documents,) = _t(spark, sf_dir, "documents")
    fp = documents.select(
        F.col("doc_id").alias("id"),
        F.md5(dedup_ops.normalize_text(F.col("text"))).alias("sh"),
    )
    exact_pairs = dedup_ops.bucket_pairs(
        fp, ["sh"], "id", lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b"))
    ).distinct()
    sim_pairs = dedup_ops.simhash_near_dups(
        documents, "text", "doc_id", max_hamming=6, bands=4
    ).select("id_a", "id_b")
    missed = exact_pairs.join(sim_pairs, ["id_a", "id_b"], "left_anti")
    return exact_pairs.agg(F.count(F.lit(1)).alias("n_exact_pairs")).crossJoin(
        missed.agg(F.count(F.lit(1)).alias("n_missed"))
    )


SQL_SIMHASH_EXACT_CONTAINMENT = """
WITH fp AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
  FROM documents
)
SELECT count(*) AS n_exact_pairs, CAST(0 AS BIGINT) AS n_missed
FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
"""


def q_embedding_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-floor contract for the LSH ANN path: recall@5 of lsh_topk
    (6 planes x 16 OR-amplified tables, the q_embedding_lsh_topk config)
    against brute-force cosine top-5 must hold a 0.40 floor (measured
    0.58-0.62 across the sf0.001/0.01/0.1 corpora — deterministic, fixed
    seed).  Emits (n_queries, recall_floor_met); the oracle states the
    expected (count, true) row, so a recall regression breaks the hash."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    corpus = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = corpus.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # Barrier: exact is read by its count and by the semi-join with the
    # LSH leg, which share no exchange, so the lazy plan runs the
    # brute-force GEMM pass twice (A/B: lazy 1.24×).  Persist the
    # (5·|queries|-row) frame.
    exact = (
        sim_ops.cosine_topk_batched(corpus, queries, k=5)
        .select("query_id", "vec_id")
        .persist()
    )
    approx = sim_ops.lsh_topk(
        corpus, queries, k=5, n_planes=6, seed=42, n_tables=16
    ).select("query_id", "vec_id")
    hits = exact.join(approx, ["query_id", "vec_id"], "left_semi")
    out = (
        exact.agg(F.count(F.lit(1)).alias("__n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("__n_hit")))
        .crossJoin(queries.agg(F.count(F.lit(1)).alias("n_queries")))
        .select(
            "n_queries",
            (F.col("__n_hit") / F.col("__n_exact") >= 0.40).alias(
                "recall_floor_met"
            ),
        )
    )
    from .session import materialize_and_release  # noqa: PLC0415

    return materialize_and_release(out, exact)


SQL_EMBEDDING_LSH_RECALL = """
SELECT count(*) AS n_queries, true AS recall_floor_met
FROM embeddings WHERE vec_id % 50 = 0
"""


def q_embedding_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-floor contract for the IVF ANN path: recall@5 of ivf_topk
    (16 sampled coarse centroids, n_probe=4 — the q_embedding_ivf_topk
    config) against brute-force cosine top-5 must hold a 0.40 floor
    (measured 0.54-0.60 across the test corpora; deterministic sampled
    quantizer).  Emits (n_queries, recall_floor_met) vs a constant oracle."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    corpus = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = corpus.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = sim_ops.cosine_topk_batched(corpus, queries, k=5).select(
        "query_id", "vec_id"
    )
    approx = sim_ops.ivf_topk(
        corpus, queries, k=5, n_centroids=16, n_probe=4
    ).select("query_id", "vec_id")
    hits = exact.join(approx, ["query_id", "vec_id"], "left_semi")
    return (
        exact.agg(F.count(F.lit(1)).alias("__n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("__n_hit")))
        .crossJoin(queries.agg(F.count(F.lit(1)).alias("n_queries")))
        .select(
            "n_queries",
            (F.col("__n_hit") / F.col("__n_exact") >= 0.40).alias(
                "recall_floor_met"
            ),
        )
    )


SQL_EMBEDDING_IVF_RECALL = """
SELECT count(*) AS n_queries, true AS recall_floor_met
FROM embeddings WHERE vec_id % 50 = 0
"""


def q_kmeans_objective_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's-iteration monotonicity contract for the k-means quantizer:
    the spherical objective (mean over vectors of max-over-centroids
    cosine) after 3 iterations must be >= the objective after 1 iteration
    from the same deterministic init — the textbook guarantee both the
    assignment and update steps preserve.  Emits (k, n_vectors, improved)
    vs a constant oracle; a broken update step (e.g. an un-normalized mean
    or a shuffled centroid index) flips `improved` and breaks the hash."""
    from .operators.similarity import centroid_dots, kmeans_centroids, l2_norm

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    corpus = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )

    def objective(cents_df) -> float:
        dots = centroid_dots(
            F.col("embedding"), [r["cvec"] for r in cents_df.collect()]
        )
        return corpus.select(
            (F.array_max(dots) / l2_norm(F.col("embedding"))).alias("c")
        ).agg(F.avg("c")).collect()[0][0]

    obj1 = objective(kmeans_centroids(corpus, k=8, n_iter=1))
    obj3 = objective(kmeans_centroids(corpus, k=8, n_iter=3))
    return (
        corpus.agg(F.count(F.lit(1)).alias("n_vectors"))
        .select(
            F.lit(8).alias("k"),
            "n_vectors",
            F.lit(bool(obj3 >= obj1 - 1e-9)).alias("improved"),
        )
    )


SQL_KMEANS_OBJECTIVE_CHECK = """
SELECT CAST(8 AS INTEGER) AS k, count(*) AS n_vectors, true AS improved
FROM embeddings
"""


def q_streaming_stall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful stall detector (streaming/monitor.py::
    stateful_stall_detector, applyInPandasWithState + event-time timeouts)
    executed as a REAL two-batch Structured Streaming run and hash-checked
    against a batch SQL restatement of its watermark mechanics — the same
    batch-parity promotion `streaming_dedup_counts` gave the dedup path.

    Setup: events become task-status rows (task=user, completed iff the
    user's last event is a purchase, frame_count=event_id).  Batch 1 is the
    full corpus; batch 2 is a single sentinel heartbeat 60s after the
    corpus end.  After batch 2 the event-time watermark stands at
    max_ts + 60s - 60s(delay) = max_ts, so exactly the tasks idle for more
    than the 6-hour stall window at corpus end time out and emit
    stalled=true; completed tasks cleared their state and never stall.
    The oracle restates that as: last event older than max_ts - 6h (ms
    truncation matching the state's microsecond//1000 arithmetic) and last
    status != completed.  Deterministic — watermark-driven, no wall clock.
    """
    import os
    import shutil
    import tempfile

    from .streaming.monitor import stateful_stall_detector

    (events,) = _t(spark, sf_dir, "events")
    status = events.select(
        F.col("user_id").cast("string").alias("task_id"),
        F.unix_micros(F.col("ts")).alias("event_us"),
        F.when(F.col("event_type") == "purchase", F.lit("completed"))
        .otherwise(F.lit("rendering"))
        .alias("status"),
        F.col("event_id").cast("long").alias("frame_count"),
    )
    max_us = status.agg(F.max("event_us")).collect()[0][0]

    base = tempfile.mkdtemp(prefix="stall_audit_")
    src = os.path.join(base, "src")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    try:
        status.write.json(src)

        def run_batch():
            stream = (
                spark.readStream.schema(
                    "task_id string, event_us long, status string, frame_count long"
                )
                .json(src)
                .select(
                    "task_id",
                    F.timestamp_micros(F.col("event_us")).alias("event_time"),
                    "status",
                    "frame_count",
                )
                .withWatermark("event_time", "1 minute")
            )
            q = (
                stateful_stall_detector(stream, stall_seconds=21600)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_batch()
        sentinel = literal_frame(
            spark,
            [("__sentinel__", int(max_us) + 60_000_000, "rendering", 0)],
            "task_id string, event_us long, status string, frame_count long",
        )
        sentinel.write.mode("append").json(src)
        run_batch()

        rows = (
            spark.read.parquet(out)
            .filter(F.col("stalled"))
            .select("task_id", "last_status", "max_frames")
            .collect()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return literal_frame(
        spark, rows, "task_id string, last_status string, max_frames long"
    )


SQL_STREAMING_STALL_AUDIT = """
WITH mx AS (SELECT max(ts) AS max_ts FROM events),
per AS (
  SELECT CAST(user_id AS VARCHAR) AS task_id,
         max(ts) AS last_ts,
         arg_max(event_type, ts) AS last_type,
         max(event_id) AS max_frames
  FROM events GROUP BY user_id
)
SELECT task_id, 'rendering' AS last_status, max_frames
FROM per, mx
WHERE last_type <> 'purchase'
  AND epoch_us(last_ts) // 1000 + 21600000 < epoch_us(max_ts) // 1000
"""


EXT_QUERIES["minhash_recall_check"] = q_minhash_recall_check
EXT_ORACLES["minhash_recall_check"] = SQL_MINHASH_RECALL_CHECK
EXT_QUERIES["simhash_exact_containment"] = q_simhash_exact_containment
EXT_ORACLES["simhash_exact_containment"] = SQL_SIMHASH_EXACT_CONTAINMENT
EXT_QUERIES["embedding_lsh_recall"] = q_embedding_lsh_recall
EXT_ORACLES["embedding_lsh_recall"] = SQL_EMBEDDING_LSH_RECALL
EXT_QUERIES["embedding_ivf_recall"] = q_embedding_ivf_recall
EXT_ORACLES["embedding_ivf_recall"] = SQL_EMBEDDING_IVF_RECALL
EXT_QUERIES["kmeans_objective_check"] = q_kmeans_objective_check
EXT_ORACLES["kmeans_objective_check"] = SQL_KMEANS_OBJECTIVE_CHECK
EXT_QUERIES["streaming_stall_audit"] = q_streaming_stall_audit
EXT_ORACLES["streaming_stall_audit"] = SQL_STREAMING_STALL_AUDIT


# ---------------------------------------------------------------------------
# round 3: span-level dedup, chunk-dedup rewrite, SemDeDup family
# ---------------------------------------------------------------------------

def q_duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-span duplication audit (operators/dedup.py::duplicate_spans
    — Lee et al. 2022 window-hash approximation of suffix-array dedup):
    8-token windows at every offset; an instance is duplicated when its text
    occurs in >= 2 distinct documents.  Per-doc audit frame."""
    (documents,) = _t(spark, sf_dir, "documents")
    return dedup_ops.duplicate_spans(documents, window=8)


SQL_DUPLICATE_SPAN_STATS = r"""
WITH norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
           AS w
  FROM documents
), idx AS (
  SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
  FROM norm WHERE len(w) >= 8
), wins AS (
  SELECT doc_id, md5(array_to_string(w[i:i+7], ' ')) AS h FROM idx
), spans AS (
  SELECT h, min(doc_id) != max(doc_id) AS cross_doc FROM wins GROUP BY h
)
SELECT w.doc_id, count(*) AS n_windows,
       CAST(sum(CASE WHEN s.cross_doc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_windows,
       round(sum(CASE WHEN s.cross_doc THEN 1 ELSE 0 END) / count(*), 6)
         AS dup_span_ratio
FROM wins w JOIN spans s USING (h)
GROUP BY w.doc_id
"""


def q_chunk_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global chunk dedup with canonical retention
    (operators/dedup.py::chunk_dedup_rewrite — the C4/RefinedWeb removal
    rule): cross-doc 10-word chunks survive only in their min-doc_id keeper;
    per-doc rewrite audit (chunks removed, rewritten length)."""
    (documents,) = _t(spark, sf_dir, "documents")
    return dedup_ops.chunk_dedup_rewrite(documents, chunk_words=10)


SQL_CHUNK_DEDUP_REWRITE = r"""
WITH norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
           AS w
  FROM documents
), idx AS (
  SELECT doc_id, w,
         unnest(generate_series(0, CAST(ceil(len(w) / 10) AS INTEGER) - 1))
           AS i
  FROM norm
), chunks AS (
  SELECT doc_id,
         md5(array_to_string(w[i*10+1 : i*10+10], ' ')) AS h,
         len(array_to_string(w[i*10+1 : i*10+10], ' ')) AS chunk_len
  FROM idx
), owners AS (
  SELECT h, min(doc_id) AS keeper, max(doc_id) AS last_doc
  FROM chunks GROUP BY h
), marked AS (
  SELECT c.doc_id, c.chunk_len,
         (o.keeper != o.last_doc AND c.doc_id != o.keeper) AS removed
  FROM chunks c JOIN owners o USING (h)
)
SELECT doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed_chunks,
       CAST(sum(CASE WHEN removed THEN 0 ELSE chunk_len END)
            + greatest(sum(CASE WHEN removed THEN 0 ELSE 1 END) - 1, 0)
         AS BIGINT) AS new_n_chars
FROM marked GROUP BY doc_id
"""


def q_bucketed_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-bucket embedding-cosine dedup
    (operators/similarity.py::bucketed_cosine_dedup): the SemDeDup removal
    rule with the `label` column as the bucket — deterministic buckets, so
    the whole removed set (id, bucket, min-lower-id partner) is
    oracle-checkable; the k-means-bucketed form is `semantic_dedup_keep`."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return sim_ops.bucketed_cosine_dedup(
        embeddings, bucket_col="label", threshold=0.35
    )


SQL_BUCKETED_COSINE_DEDUP = """
WITH pairs AS (
  SELECT b.vec_id AS id, b.label AS label, a.vec_id AS cand,
         round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                       x -> x[1]::DOUBLE * x[2]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))),
           6) AS c
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id AS vec_id, label, min(cand) AS dup_of
FROM pairs WHERE c >= 0.35
GROUP BY id, label
"""


def q_semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.py::semantic_dedup, arXiv:2303.09540):
    spherical-k-means clusters bound the pairwise term; lower-id keep-rule
    within each cluster.

    FULL hash oracle via the orthogonal planted-cluster fixture shared
    with q_embedding_kmeans (r8 — this was the last rows-only registry
    entry): clustering provably recovers the `_KMEANS_GROUPS` partition
    (one xxhash-rank seed per group, cid == group), in-group cosine is
    exactly 1.0 >= 0.35 and cross-group 0.0 < 0.35, so the removal set is
    closed-form — every group member except the minimum vec_id, with
    ``dup_of`` = that minimum (the operator's documented smallest-partner
    rule).  The full SemDeDup path still executes: Lloyd's training,
    argmax assignment, per-cluster GEMM keep-rule.  Real-corpus validity
    stays enforced by `semantic_dedup_contract` (every emitted pair
    recomputed at the threshold on the raw table); the structural
    invariant columns stay."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    corpus = _planted_kmeans_corpus(embeddings)
    if corpus is None:  # sub-64-row table: empty on both sides, not a fail
        return literal_frame(
            spark,
            [],
            "vec_id long, cluster long, dup_of long, "
            "order_ok boolean, cluster_in_range boolean",
        )
    out = sim_ops.semantic_dedup(corpus, threshold=0.35, k=8, n_iter=3)
    return out.select(
        *out.columns,
        (F.col("dup_of") < F.col("vec_id")).alias("order_ok"),
        ((F.col("cluster") >= 0) & (F.col("cluster") < 8)).alias(
            "cluster_in_range"
        ),
    )


SQL_SEMANTIC_DEDUP_KEEP = f"""
WITH {_SQL_GROUPS_CTE},
planted AS (
  SELECT e.vec_id, m.grp
  FROM (SELECT vec_id FROM embeddings WHERE vec_id < 64) e
  JOIN m USING (vec_id)
  -- completeness guard: mirrors the Spark side's empty-below-64 degrade
  WHERE (SELECT count(*) FROM embeddings WHERE vec_id < 64) = 64
    AND (SELECT count(DISTINCT vec_id) FROM embeddings WHERE vec_id < 64) = 64
),
keep AS (SELECT grp, min(vec_id) AS keeper FROM planted GROUP BY grp)
SELECT p.vec_id,
       CAST(p.grp AS BIGINT) AS cluster,
       k.keeper AS dup_of,
       true AS order_ok,
       true AS cluster_in_range
FROM planted p JOIN keep k USING (grp)
WHERE p.vec_id <> k.keeper
"""


def q_semantic_dedup_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validity contract for `semantic_dedup_keep`: every emitted
    (vec_id, dup_of) pair must verify EXACTLY — dup_of < vec_id and
    round(cosine, 6) >= threshold, recomputed with the expression-form dot
    product against the raw table.  Emits (violations=0, valid=true) against
    a constant oracle, so an invalid pair breaks the driver hash."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    removed = sim_ops.semantic_dedup(embeddings, threshold=0.35, k=8, n_iter=3)
    vecs = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = sim_ops.norm_side(vecs, "vec_id", "embedding", "dup_of", "q")
    c = sim_ops.norm_side(vecs, "vec_id", "embedding", "vec_id", "c")
    checked = (
        removed.join(q, "dup_of")
        .join(c, "vec_id")
        .select(
            (F.col("dup_of") < F.col("vec_id")).alias("order_ok"),
            (sim_ops.cosine_sim() >= 0.35).alias("sim_ok"),
        )
    )
    return checked.agg(
        F.sum(
            F.when(~F.col("order_ok") | ~F.col("sim_ok"), 1).otherwise(0)
        ).cast("long").alias("violations"),
        F.coalesce(F.bool_and(F.col("order_ok") & F.col("sim_ok")), F.lit(True))
        .alias("valid"),
    )


SQL_SEMANTIC_DEDUP_CONTRACT = """
SELECT CAST(0 AS BIGINT) AS violations, true AS valid
"""


EXT_QUERIES["duplicate_span_stats"] = q_duplicate_span_stats
EXT_ORACLES["duplicate_span_stats"] = SQL_DUPLICATE_SPAN_STATS
EXT_QUERIES["chunk_dedup_rewrite"] = q_chunk_dedup_rewrite
EXT_ORACLES["chunk_dedup_rewrite"] = SQL_CHUNK_DEDUP_REWRITE
EXT_QUERIES["bucketed_cosine_dedup"] = q_bucketed_cosine_dedup
EXT_ORACLES["bucketed_cosine_dedup"] = SQL_BUCKETED_COSINE_DEDUP
EXT_QUERIES["semantic_dedup_keep"] = q_semantic_dedup_keep
EXT_ORACLES["semantic_dedup_keep"] = SQL_SEMANTIC_DEDUP_KEEP
EXT_QUERIES["semantic_dedup_contract"] = q_semantic_dedup_contract
EXT_ORACLES["semantic_dedup_contract"] = SQL_SEMANTIC_DEDUP_CONTRACT


def q_embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space train/test decontamination
    (operators/similarity.py::cross_cosine_flags): label-0 vectors stand in
    for the held-out benchmark; training vectors (label != 0) with
    round(cosine, 6) >= 0.38 to ANY probe are flagged (hit count + best
    match).  The semantic complement of the n-gram
    `train_test_decontamination`.  Probes broadcast once; the training
    corpus streams through one GEMM per Arrow batch — linear at any scale."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    train = embeddings.filter(F.col("label") != 0)
    probes = embeddings.filter(F.col("label") == 0)
    return sim_ops.cross_cosine_flags(train, probes, threshold=0.38)


SQL_EMBEDDING_DECONTAMINATION = """
WITH s AS (
  SELECT a.vec_id AS id,
         round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                       x -> x[1]::DOUBLE * x[2]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))),
           6) AS c
  FROM embeddings a JOIN embeddings b ON a.label != 0 AND b.label = 0
)
SELECT id AS vec_id,
       CAST(sum(CASE WHEN c >= 0.38 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       max(c) AS max_sim
FROM s GROUP BY id
HAVING sum(CASE WHEN c >= 0.38 THEN 1 ELSE 0 END) > 0
"""


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (LLM-pipeline extension — the
    data-recipe step that turns per-source token counts into sampling
    weights): weight_s = n_s^T / sum(n^T) with T=0.7 (upweights small
    sources, the standard multilingual/multisource smoothing), token
    allocation for a 1M-token budget, and implied epochs over each source.
    Pure two-level aggregate — no shuffle beyond the groupBy(source)."""
    (documents,) = _t(spark, sf_dir, "documents")
    per_src = documents.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens")
    )
    tot = per_src.agg(
        F.sum(F.pow(F.col("n_tokens").cast("double"), 0.7)).alias("z")
    )
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            F.round(
                F.pow(F.col("n_tokens").cast("double"), 0.7) / F.col("z"), 6
            ).alias("weight"),
            F.round(
                F.lit(1_000_000.0)
                * F.pow(F.col("n_tokens").cast("double"), 0.7)
                / F.col("z")
            )
            .cast("long")
            .alias("alloc_tokens"),
        )
        .withColumn(
            "epochs",
            F.round(F.col("alloc_tokens") / F.col("n_tokens"), 4),
        )
    )


SQL_MIXTURE_WEIGHTS = """
WITH per_src AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), z AS (
  SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.7)) AS z FROM per_src
), alloc AS (
  SELECT source, n_tokens,
         round(pow(CAST(n_tokens AS DOUBLE), 0.7) / z, 6) AS weight,
         CAST(round(1000000.0 * pow(CAST(n_tokens AS DOUBLE), 0.7) / z)
           AS BIGINT) AS alloc_tokens
  FROM per_src, z
)
SELECT source, n_tokens, weight, alloc_tokens,
       round(alloc_tokens / n_tokens, 4) AS epochs
FROM alloc
"""


def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session-window aggregation executed as a REAL Structured
    Streaming pipeline: readStream → watermark →
    groupBy(session_window(ts, '30 minutes'), user_id) — Spark's built-in
    gap-merge sessionization (events chain into one session while
    consecutive gaps stay under 30 min).  Deterministic on the single-file
    source, so it hash-checks against a DuckDB gaps-and-islands restatement
    of the same semantics (break when gap >= 30 min).  The streaming analog
    of the batch `sessionize` query; at scale the same code runs with a
    processing trigger and the watermark bounds per-user session state."""
    stream = streaming_events(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,10)")).cast("double"), 4
            ).alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
            "total_value",
        )
    )
    return monitor_ops.run_stream_to_memory(agg)


SQL_STREAMING_SESSION_WINDOWS = """
WITH o AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 4)
         AS total_value
FROM s GROUP BY user_id, sid
"""


EXT_QUERIES["embedding_decontamination"] = q_embedding_decontamination
EXT_ORACLES["embedding_decontamination"] = SQL_EMBEDDING_DECONTAMINATION
EXT_QUERIES["mixture_weights"] = q_mixture_weights
EXT_ORACLES["mixture_weights"] = SQL_MIXTURE_WEIGHTS
EXT_QUERIES["streaming_session_windows"] = q_streaming_session_windows
EXT_ORACLES["streaming_session_windows"] = SQL_STREAMING_SESSION_WINDOWS


def q_approx_distinct_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ sketch contract: `approx_count_distinct(rsd=0.01)` over
    orders.o_custkey must land within 5x the configured rsd of the exact
    distinct count (HLL++ error is probabilistic but this corpus/seed is
    fixed; 5 sigma leaves no flake room).  The sketch is THE 100 TB path for
    distinct counting — fixed-size state, one pass, mergeable across
    partitions — where exact count_distinct shuffles every key.  Emits the
    exact count plus the boolean bound check against a constant-free oracle
    (exact count from SQL, `true` for the bound)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.agg(
            F.count_distinct("o_custkey").alias("exact_distinct"),
            F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx"),
        )
        .select(
            "exact_distinct",
            (
                F.abs(F.col("approx") - F.col("exact_distinct"))
                / F.col("exact_distinct")
                <= 0.05
            ).alias("within_bound"),
        )
    )


SQL_APPROX_DISTINCT_CONTRACT = """
SELECT count(DISTINCT o_custkey) AS exact_distinct, true AS within_bound
FROM orders
"""


def q_heavy_hitters_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters containment contract for `DataFrame.stat.freqItems`
    (count-min-sketch-backed single-pass frequent items): every event_type
    whose true frequency exceeds the 10% support threshold MUST appear in
    the sketch's candidate set (freqItems guarantees no false negatives —
    false positives are allowed and filtered here by an exact recount).
    The verified-survivor set equals the exact >10% list, so the whole
    result hash-checks against plain SQL.  Scale: the sketch pass is one
    scan with fixed-size state; the recount join touches only candidates."""
    (events,) = _t(spark, sf_dir, "events")
    cand = events.stat.freqItems(["event_type"], support=0.1)
    items = [
        r
        for r in cand.collect()[0]["event_type_freqItems"]
        if r is not None
    ]
    total = events.count()
    verified = (
        events.filter(F.col("event_type").isin(items))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 0.1 * total)
        .select("event_type", "n")
    )
    return verified


SQL_HEAVY_HITTERS_CONTRACT = """
SELECT event_type, count(*) AS n
FROM events
GROUP BY event_type
HAVING count(*) > 0.1 * (SELECT count(*) FROM events)
"""


EXT_QUERIES["approx_distinct_contract"] = q_approx_distinct_contract
EXT_ORACLES["approx_distinct_contract"] = SQL_APPROX_DISTINCT_CONTRACT
EXT_QUERIES["heavy_hitters_contract"] = q_heavy_hitters_contract
EXT_ORACLES["heavy_hitters_contract"] = SQL_HEAVY_HITTERS_CONTRACT


def q_multimodal_features_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked sibling of `multimodal_features`: with the documented
    deterministic stub decoder (payload bytes viewed as uint8 —
    multimodal.py::_decode_bytes), every extracted feature is a pure
    function of the text bytes, so DuckDB can restate it per character:
    n_bytes = length, mean/std of byte values (population std, rounded to 4
    so two float summation orders agree), histogram mode with the
    smallest-byte tie-break np.argmax uses.  Checks the ENTIRE mapInPandas
    feature path end-to-end, not just row counts."""
    from .operators import multimodal as mm

    (documents,) = _t(spark, sf_dir, "documents")
    media = mm.synthesize_media(documents, "doc_id", "text")
    feats = mm.extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.col("mean_intensity"), 4).alias("mean_b"),
        F.round(F.col("std_intensity"), 4).alias("std_b"),
        F.col("histogram_mode").cast("long").alias("mode_b"),
    )


SQL_MULTIMODAL_FEATURES_CHECKED = """
WITH idx AS (
  SELECT doc_id, text, unnest(generate_series(1, len(text))) AS i
  FROM documents
), chars AS (
  SELECT doc_id, ascii(substring(text, i, 1)) AS b FROM idx
), counts AS (
  SELECT doc_id, b, count(*) AS c FROM chars GROUP BY doc_id, b
), mx AS (
  SELECT doc_id, b, c, max(c) OVER (PARTITION BY doc_id) AS cmax FROM counts
), stats AS (
  SELECT doc_id,
         count(*) AS n_bytes,
         round(avg(b), 4) AS mean_b,
         round(sqrt(avg(CAST(b AS DOUBLE) * b) - avg(b) * avg(b)), 4)
           AS std_b
  FROM chars GROUP BY doc_id
), modes AS (
  SELECT doc_id, min(b) AS mode_b FROM mx WHERE c = cmax GROUP BY doc_id
)
SELECT s.doc_id AS media_id, s.n_bytes, s.mean_b, s.std_b,
       CAST(m.mode_b AS BIGINT) AS mode_b
FROM stats s JOIN modes m USING (doc_id)
"""


def q_simulate_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contracts for the seeded behavior simulation (rows-only by nature):
    (a) DETERMINISM — two independent runs of the same (sequence_id, seed)
    jobs produce byte-identical pose sets (md5 over the sorted rendered
    rows, compared per sequence); (b) BOUNDS — every emitted point sits
    inside the walkable bounds (the simulator's NavMesh-projection stand-in
    must never emit an off-mesh point).  Emits (violations=0,
    deterministic=true) against a constant oracle."""
    jobs = literal_frame(spark, _SIM_JOBS, "sequence_id string, seed long")
    bounds = (-5000.0, -5000.0, 5000.0, 5000.0)

    def run_hash():
        poses = sim_gen.simulate_jobs(
            jobs, n_segments=6, steps_per_segment=20, bounds=bounds
        )
        rendered = poses.select(
            "sequence_id",
            F.concat_ws(
                ",",
                F.col("point_idx").cast("string"),
                F.round("x", 6).cast("string"),
                F.round("y", 6).cast("string"),
                F.round("yaw", 6).cast("string"),
                F.col("seg_idx").cast("string"),
                F.col("behavior"),
            ).alias("row_s"),
        )
        return rendered.groupBy("sequence_id").agg(
            F.md5(F.concat_ws("|", F.array_sort(F.collect_list("row_s"))))
            .alias("h")
        )
    h1 = run_hash().withColumnRenamed("h", "h1")
    h2 = run_hash().withColumnRenamed("h", "h2")
    det = (
        h1.join(h2, "sequence_id", "full")
        .agg(
            F.coalesce(
                F.bool_and(F.col("h1") == F.col("h2")), F.lit(False)
            ).alias("deterministic")
        )
    )
    poses = sim_gen.simulate_jobs(
        jobs, n_segments=6, steps_per_segment=20, bounds=bounds
    )
    oob = poses.agg(
        F.sum(
            F.when(
                (F.col("x") < bounds[0]) | (F.col("x") > bounds[2])
                | (F.col("y") < bounds[1]) | (F.col("y") > bounds[3]),
                1,
            ).otherwise(0)
        ).cast("long").alias("violations")
    )
    return oob.crossJoin(det)


SQL_SIMULATE_CONTRACT = """
SELECT CAST(0 AS BIGINT) AS violations, true AS deterministic
"""


EXT_QUERIES["multimodal_features_checked"] = q_multimodal_features_checked
EXT_ORACLES["multimodal_features_checked"] = SQL_MULTIMODAL_FEATURES_CHECKED
EXT_QUERIES["simulate_contract"] = q_simulate_contract
EXT_ORACLES["simulate_contract"] = SQL_SIMULATE_CONTRACT
EXT_QUERIES["jpeg_roundtrip_contract"] = q_jpeg_roundtrip_contract
EXT_ORACLES["jpeg_roundtrip_contract"] = SQL_JPEG_ROUNDTRIP_CONTRACT
EXT_QUERIES["jpeg420_roundtrip_contract"] = q_jpeg420_roundtrip_contract
EXT_ORACLES["jpeg420_roundtrip_contract"] = SQL_JPEG420_ROUNDTRIP_CONTRACT
EXT_QUERIES["jpeg_restart_contract"] = q_jpeg_restart_contract
EXT_ORACLES["jpeg_restart_contract"] = SQL_JPEG_RESTART_CONTRACT
EXT_QUERIES["jpeg_progressive_contract"] = q_jpeg_progressive_contract
EXT_ORACLES["jpeg_progressive_contract"] = SQL_JPEG_PROGRESSIVE_CONTRACT
EXT_QUERIES["jpeg_lossless_contract"] = q_jpeg_lossless_contract
EXT_ORACLES["jpeg_lossless_contract"] = SQL_JPEG_LOSSLESS_CONTRACT
EXT_QUERIES["jpeg_hierarchical_contract"] = q_jpeg_hierarchical_contract
EXT_ORACLES["jpeg_hierarchical_contract"] = SQL_JPEG_HIERARCHICAL_CONTRACT
EXT_QUERIES["png_palette_contract"] = q_png_palette_contract
EXT_ORACLES["png_palette_contract"] = SQL_PNG_PALETTE_CONTRACT
EXT_QUERIES["png_full_surface_contract"] = q_png_full_surface_contract
EXT_ORACLES["png_full_surface_contract"] = SQL_PNG_FULL_SURFACE_CONTRACT
EXT_QUERIES["wav_pcm_surface_contract"] = q_wav_pcm_surface_contract
EXT_ORACLES["wav_pcm_surface_contract"] = SQL_WAV_PCM_SURFACE_CONTRACT
EXT_QUERIES["bmp_surface_contract"] = q_bmp_surface_contract
EXT_ORACLES["bmp_surface_contract"] = SQL_BMP_SURFACE_CONTRACT
