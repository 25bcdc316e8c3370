"""Window / time-series operators (SURVEY.md §2.5) — the numeric core.

All operate on a per-sequence ordered axis; the Spark form is
``Window.partitionBy(seq).orderBy(frame)``.  Scale rule: **partition by
sequence, never by frame** — one sequence's frames stay in one task, different
sequences parallelize.  Everything in this module is pure Column expressions
(codegen'd, no Python); the genuinely sequential scans live in stateful.py.

Covered:
- cumulative arc length + path length (`worker_create.py:604-607`),
- arc-length resampling (`nav_utils.py:233-271`),
- fixed-speed truncation (`worker_create.py:585-674`),
- pitch-from-slope / yaw-from-trajectory (`transform_track.py:10-53`),
- shortest-delta angle lerp (`worker_create.py:850-869`),
- angle unwrap in closed form (`transform_track.py:133-155`) — the running
  unwrap is a cumulative sum of per-step shortest deltas, so it IS window-
  expressible (first + sum(wrap(delta)) over an unbounded-preceding window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dist3(x1, y1, z1, x2, y2, z2) -> "F.Column":
    """Euclidean 3-D distance (`nav_utils.py:9-13`)."""
    return F.sqrt(
        (x1 - x2) ** 2 + (y1 - y2) ** 2 + (z1 - z2) ** 2
    )


def cumulative_distance(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    pos_cols: tuple[str, str, str] = ("x", "y", "z"),
    out_col: str = "cum_dist",
) -> DataFrame:
    """Cumulative polyline arc length per sequence.

    Reference analog: the running ``total_length`` accumulations in
    `worker_create.py:604-607` / `behavior_executor.py:361-364`.
    """
    w = Window.partitionBy(seq_col).orderBy(order_col)
    x, y, z = (F.col(c) for c in pos_cols)
    step = dist3(x, y, z, F.lag(x).over(w), F.lag(y).over(w), F.lag(z).over(w))
    step = F.coalesce(step, F.lit(0.0))
    # DECIMAL accumulator: windowed double sums are evaluation-order
    # dependent (DuckDB segment tree vs Spark sequential) and the drift
    # crosses round(6) boundaries at sf>=0.5 prefix lengths.  Decimal
    # addition is associative, so every engine agrees; steps are cast at
    # scale 12 (both engines round-to-nearest the same double).
    cum = (
        F.sum(step.cast("decimal(28,12)"))
        .over(
            Window.partitionBy(seq_col)
            .orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("double")
    )
    return df.withColumn("__step", step).withColumn(out_col, cum).drop("__step")


def path_length(
    df: DataFrame, seq_col: str, order_col: str, pos_cols=("x", "y", "z")
) -> DataFrame:
    """Total polyline length per sequence (`worker_create.py:604-607`)."""
    w = Window.partitionBy(seq_col).orderBy(order_col)
    x, y, z = (F.col(c) for c in pos_cols)
    step = dist3(x, y, z, F.lag(x).over(w), F.lag(y).over(w), F.lag(z).over(w))
    return (
        df.select(seq_col, step.alias("__step"))
        .groupBy(seq_col)
        .agg(F.round(F.sum("__step"), 6).alias("path_length"))
    )


def wrap_delta(delta: "F.Column") -> "F.Column":
    """Shortest angular delta in [-180, 180): ``d - 360*floor(d/360 + 0.5)``.

    Reference analog: yaw wraparound normalization
    (`worker_create.py:855-869`; `behavior_executor.py:144-161`).  The floor
    form (not round) is used so the half-case d=±180 is deterministic and
    identical across engines (round-half modes differ between systems).
    """
    return delta - 360.0 * F.floor(delta / 360.0 + 0.5)


def unwrap_angle(
    df: DataFrame, seq_col: str, order_col: str, angle_col: str, out_col: str = "unwrapped"
) -> DataFrame:
    """Continuous (unwrapped) angle series per sequence.

    Reference analog: `transform_track.py:133-155` (imperative running
    unwrap).  Closed form: ``a_0 + sum(wrap(a_i - a_{i-1}))`` — a cumulative
    window sum, NOT a stateful scan, so it stays in codegen.
    """
    w = Window.partitionBy(seq_col).orderBy(order_col)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    a = F.col(angle_col)
    delta = wrap_delta(a - F.lag(a).over(w))
    return df.withColumn(
        out_col,
        F.first(a).over(wcum) + F.coalesce(F.sum(delta).over(wcum), F.lit(0.0)),
    )


def pitch_from_slope(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    pos_cols=("x", "y", "z"),
    min_pitch: float = -80.0,
    max_pitch: float = 80.0,
    out_col: str = "pitch",
) -> DataFrame:
    """Pitch angle from the slope to the NEXT sample, clamped.

    Reference analog: `transform_track.py:27-53` (atan2(dz, horizontal) per
    consecutive pair).  Last row holds the previous pitch (lead is null →
    coalesce with lag-based fallback, matching the reference's carry-forward).
    """
    w = Window.partitionBy(seq_col).orderBy(order_col)
    x, y, z = (F.col(c) for c in pos_cols)
    dx, dy, dz = F.lead(x).over(w) - x, F.lead(y).over(w) - y, F.lead(z).over(w) - z
    horiz = F.sqrt(dx * dx + dy * dy)
    pitch = F.degrees(F.atan2(dz, horiz))
    # guard the clamp: Spark's least/greatest IGNORE nulls, so clamping the
    # last row's null pitch would yield max_pitch instead of null and break
    # the carry-forward below
    clamped = F.when(
        pitch.isNotNull(),
        F.greatest(F.least(pitch, F.lit(max_pitch)), F.lit(min_pitch)),
    )
    df2 = df.withColumn("__p", clamped)
    # carry last defined pitch forward for the final sample
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    return df2.withColumn(
        out_col, F.coalesce(F.col("__p"), F.last("__p", ignorenulls=True).over(wcum), F.lit(0.0))
    ).drop("__p")


def yaw_from_trajectory(
    df: DataFrame, seq_col: str, order_col: str, pos_cols=("x", "y", "z"), out_col: str = "yaw"
) -> DataFrame:
    """Yaw from direction to the NEXT sample (`transform_track.py:10-24`)."""
    w = Window.partitionBy(seq_col).orderBy(order_col)
    x, y = F.col(pos_cols[0]), F.col(pos_cols[1])
    yaw = F.degrees(F.atan2(F.lead(y).over(w) - y, F.lead(x).over(w) - x))
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    df2 = df.withColumn("__y", yaw)
    return df2.withColumn(
        out_col, F.coalesce(F.col("__y"), F.last("__y", ignorenulls=True).over(wcum), F.lit(0.0))
    ).drop("__y")


def arc_length_resample(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    n_points: int,
    pos_cols=("x", "y", "z"),
) -> DataFrame:
    """Resample each sequence's polyline to ``n_points`` points equally
    spaced in arc length, linear interpolation inside segments.

    Reference analog: `nav_utils.py:233-271` (imperative walk).  Spark form,
    one window pass over the input per sequence, no join:
    1. cumulative distance per vertex (window sum); each segment row (a
       vertex and its ``lead``) also carries the path length ``L`` as
       ``max(__cum)`` over the sequence window,
    2. each segment explodes only its candidate grid indices
       ``[floor(d0·(N−1)/L) − 1, ceil(d1·(N−1)/L) + 1] ∩ [0, N−1]`` (every k
       for segment 1 of a zero-length path), so the work per sequence is
       O(N+S) for N grid points and S segments, not O(N·S),
    3. each candidate's target ``d_k = k·L/(N−1)`` is matched to its
       bracketing segment by the predicate below, then lerped.

    The ±1 of slack covers float rounding.  ``d_k = fl(fl(k·L)/(N−1))``
    and the bound ``fl(fl(d/L)·(N−1))`` (``d/L`` first, so it cannot
    overflow) are two correctly rounded operations each, so each is within
    a relative 2⁻⁵² of its exact value.  Cumulative distances are
    DECIMAL(28,12) sums, so ``L`` is 0 or at least 1e-12, never subnormal,
    and the relative bounds hold.  In units of k the error is then below
    (N−1)·2⁻⁵⁰ < 1 for any 32-bit N, so every k whose ``d_k`` lands in
    [d0, d1] already lies in ``[floor(d0·(N−1)/L), ceil(d1·(N−1)/L)]``;
    the extra 1 on each side is margin.  Candidates are a superset only:
    the match predicate below, the same one the grid ⋈ segment band join
    used, decides which k a segment keeps.
    """
    if n_points < 2:
        raise ValueError(f"arc_length_resample needs n_points >= 2, got {n_points}")
    x, y, z = pos_cols
    cum = cumulative_distance(df, seq_col, order_col, pos_cols, "__cum")
    w = Window.partitionBy(seq_col).orderBy(order_col)
    seg = cum.select(
        seq_col,
        F.col("__cum").alias("d0"),
        F.lead("__cum").over(w).alias("d1"),
        F.row_number().over(w).alias("__segno"),
        F.max("__cum").over(Window.partitionBy(seq_col)).alias("L"),
        *[F.col(c).alias(f"{c}0") for c in (x, y, z)],
        *[F.lead(c).over(w).alias(f"{c}1") for c in (x, y, z)],
    ).filter(F.col("d1").isNotNull())
    last = F.lit(n_points - 1)
    d0, d1, L = F.col("d0"), F.col("d1"), F.col("L")
    lo = F.greatest(F.floor(d0 / L * last) - 1, F.lit(0)).cast("int")
    hi = F.least(F.ceil(d1 / L * last) + 1, last).cast("int")
    # explode(null) emits no rows: the other segments of a zero-length path
    candidates = F.when(L > 0.0, F.sequence(lo, hi)).when(
        F.col("__segno") == 1, F.sequence(F.lit(0), last)
    )
    grid = seg.select("*", F.explode(candidates).alias("k")).withColumn(
        "target_d", F.col("k") * L / last
    )
    # Match target to segment [d0, d1).  The last grid point is matched
    # STRUCTURALLY (k == N-1 → the final non-zero-length segment) rather than
    # by float equality target_d == L: k*L/(N-1) for k=N-1 is within ulps of
    # L but not reliably equal, and the ulps differ across engines — an
    # equality match silently drops endpoints.  A fully stationary path
    # (L == 0: every segment zero-length) matches its FIRST segment for
    # every k, yielding N copies of the stationary point instead of
    # silently dropping the sequence.  Each k keeps exactly one segment, so
    # no dedup pass follows: the half-open test matches at most one
    # positive-length segment, the k == N-1 clause only the last one, and
    # the L == 0 clause only fires when no segment has length.
    target = F.col("target_d")
    matched = grid.filter(
        (
            (target >= d0)
            & (
                (target < d1)
                | ((F.col("k") == last) & (d1 == L) & (d0 < d1))
            )
        )
        | ((L == 0.0) & (F.col("__segno") == 1))
    )
    t = F.when(d1 > d0, (target - d0) / (d1 - d0)).otherwise(F.lit(0.0))
    return matched.select(
        seq_col,
        "k",
        "target_d",
        *[
            (F.col(f"{c}0") + t * (F.col(f"{c}1") - F.col(f"{c}0"))).alias(c)
            for c in (x, y, z)
        ],
    )


def fixed_speed_truncate(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    speed: float,
    duration: float,
    pos_cols=("x", "y", "z"),
) -> DataFrame:
    """Truncate each path at distance ``speed*duration`` with a partial-segment
    lerp boundary point (strict fixed-speed mode).

    Reference analog: `worker_create.py:585-674` — walk the path accumulating
    distance, cut at max_distance, interpolate the final point.
    """
    x, y, z = pos_cols
    maxd = speed * duration
    cum = cumulative_distance(df, seq_col, order_col, pos_cols, "__cum")
    w = Window.partitionBy(seq_col).orderBy(order_col)
    withnext = cum.select(
        seq_col,
        order_col,
        "__cum",
        *pos_cols,
        F.lead("__cum").over(w).alias("__next_cum"),
        *[F.lead(c).over(w).alias(f"__n_{c}") for c in pos_cols],
    )
    kept = withnext.filter(F.col("__cum") <= maxd)
    # the last kept vertex whose next vertex crosses maxd also emits the
    # boundary row, so the input is read once (no union of two branches)
    crosses = F.col("__next_cum").isNotNull() & (F.col("__next_cum") > maxd)
    t = (F.lit(maxd) - F.col("__cum")) / (F.col("__next_cum") - F.col("__cum"))
    row = F.struct(
        F.col(order_col).cast("double").alias(order_col),
        F.col("__cum").alias("cum_dist"),
        *[F.col(c).cast("double").alias(c) for c in pos_cols],
    )
    boundary = F.struct(
        (F.col(order_col) + 0.5).cast("double").alias(order_col),  # half-index
        F.lit(maxd).cast("double").alias("cum_dist"),
        *[
            (F.col(c) + t * (F.col(f"__n_{c}") - F.col(c))).alias(c)
            for c in pos_cols
        ],
    )
    return kept.select(
        seq_col,
        F.explode(
            F.when(crosses, F.array(row, boundary)).otherwise(F.array(row))
        ).alias("__p"),
    ).select(seq_col, "__p.*")


def time_grid_ffill(
    df: DataFrame,
    seq_col: str,
    ts_col: str,
    value_col: str,
    step: str = "1 hour",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Resample an irregular event series onto a regular time grid with
    last-observation-carried-forward fill.

    The time-axis analog of ``arc_length_resample`` (reference resampling
    family, `transform_track.py:84-132`): per sequence, buckets of ``step``
    from the first to the last observation; empty buckets inherit the most
    recent value.  Bucket representative = the row with the greatest
    (``tiebreak_col``) in the bucket — deterministic under timestamp ties.

    Scale: one groupBy to pick bucket representatives, one per-sequence
    ``sequence()+explode`` for the grid (generation is distributed — each
    sequence explodes in its own task), one window for the fill; everything
    codegen'd, shuffle keyed by the sequence only.  Returns
    (seq, bucket_ts, value, filled) where ``value`` is null on gap buckets
    and ``filled`` is the carried-forward series.
    """
    tiebreak_col = tiebreak_col or ts_col
    # Bucket by flooring the epoch to the step width — works for ANY step
    # and always aligns with the sequence() grid below (date_trunc would
    # misalign for steps like '15 minutes').  For whole-hour steps this is
    # identical to date_trunc('hour') under the UTC session tz.
    _units = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}
    n_str, unit = step.split()
    step_s = int(n_str) * _units[unit.rstrip("s")]
    bucket = F.timestamp_seconds(
        F.floor(F.unix_micros(F.col(ts_col)) / F.lit(step_s * 1_000_000))
        * F.lit(step_s)
    )
    ev = df.select(
        F.col(seq_col),
        bucket.alias("__b"),
        F.col(tiebreak_col).alias("__tb"),
        F.col(value_col).alias("__v"),
    )
    picked = ev.groupBy(seq_col, "__b").agg(
        F.max_by("__v", "__tb").alias("__v")
    )
    bounds = ev.groupBy(seq_col).agg(
        F.min("__b").alias("__mn"), F.max("__b").alias("__mx")
    )
    grid = bounds.select(
        seq_col,
        F.explode(
            F.sequence("__mn", "__mx", F.expr(f"interval {step}"))
        ).alias("__b"),
    )
    j = grid.join(picked, [seq_col, "__b"], "left")
    w = (
        Window.partitionBy(seq_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        seq_col,
        F.col("__b").alias("bucket_ts"),
        F.col("__v").alias("value"),
        F.last("__v", ignorenulls=True).over(w).alias("filled"),
    )


def clip_segments_after_truncation(
    segments: DataFrame,
    limits: DataFrame,
    seq_col: str,
    limit_col: str,
    start_col: str = "start_idx",
    end_col: str = "end_idx",
) -> DataFrame:
    """Clip/drop behavior segments after path truncation — first-class form
    of the reference's `_adjust_behavior_segments_after_truncation`
    (`worker_create.py:536-582`).

    Rules (per sequence, with ``last_valid = limit - 1``):
    - segment starting beyond ``last_valid`` → dropped;
    - segment straddling ``last_valid`` → kept with its end clipped;
    - segment fully inside → kept unchanged.

    Assumes segments within a sequence are ordered and non-overlapping (the
    reference's break-after-first-clip is equivalent to this filter under
    that contract, which the reference's generator guarantees).

    Scale: one equi-join on the sequence key — the limits side is one row
    per sequence, so Spark broadcasts it when small and AQE co-partitions
    the shuffle otherwise; no windows, no Python.
    """
    j = segments.join(
        limits.select(seq_col, (F.col(limit_col) - 1).alias("__last")), seq_col
    )
    return (
        j.filter(F.col(start_col) <= F.col("__last"))
        .withColumn(end_col, F.least(F.col(end_col), F.col("__last")))
        .drop("__last")
    )


def frame_grid(
    sequences: DataFrame,
    seq_col: str,
    n_frames_col: str,
    fps: float = 30.0,
    interval: int = 1,
) -> DataFrame:
    """Generate the (sequence, frame, time) grid — `worker_create.py:684-692`.

    ``sequence() + explode`` keeps generation distributed (one row per input
    sequence explodes in its own task — no driver-side loop).
    """
    return sequences.select(
        seq_col,
        F.explode(
            F.sequence(F.lit(0), F.col(n_frames_col) - 1, F.lit(interval))
        ).alias("frame"),
    ).withColumn("time_seconds", F.col("frame") / F.lit(fps))


def behavior_resample(
    keys: DataFrame,
    segments: DataFrame,
    seq_col: str = "sequence_id",
    idx_col: str = "idx",
    pos_cols: tuple[str, str, str] = ("x", "y", "z"),
    angle_cols: tuple[str, ...] = ("yaw", "pitch"),
) -> DataFrame:
    """Behavior-aware per-frame resampling — the densest reference operator
    (`worker_create.py:695-896`, ~200 LoC imperative loop) as three relational
    steps:

    1. frame grid: one row per integer frame 0..max(idx) per sequence,
    2. bracketing keyframes: backward + forward as-of joins on the key index
       (operators/joins.py::asof_join — one shuffle each, JVM-side),
    3. segment behavior: interval join frame→segment, then one CASE per
       channel family:
         - idle:       hold previous key (position AND angles)
         - rotate:     hold position, shortest-arc lerp angles
         - translate*: lerp position, hold angles
         - roam/other: lerp position, shortest-arc lerp angles

    Angle lerp uses the wrapped shortest delta (`worker_create.py:850-869`);
    frames before the first / after the last key clamp to the nearest key.
    Segments: (seq, behavior, start_idx, end_idx) inclusive.
    Output: (seq, frame, behavior, x, y, z, yaw, pitch).
    """
    from .joins import asof_join, range_join

    chans = list(pos_cols) + list(angle_cols)
    frames = (
        keys.groupBy(seq_col)
        .agg(F.max(idx_col).alias("__maxidx"))
        .select(
            seq_col,
            F.explode(F.sequence(F.lit(0), F.col("__maxidx"))).alias("frame"),
        )
    )
    prev_keys = keys.select(
        seq_col,
        F.col(idx_col).alias("p_idx"),
        *[F.col(c).alias(f"p_{c}") for c in chans],
    )
    next_keys = keys.select(
        seq_col,
        F.col(idx_col).alias("n_idx"),
        *[F.col(c).alias(f"n_{c}") for c in chans],
    )
    bracketed = asof_join(
        frames, prev_keys, on=seq_col, left_ts="frame", right_ts="p_idx",
        value_cols=["p_idx"] + [f"p_{c}" for c in chans], direction="backward",
    )
    bracketed = asof_join(
        bracketed, next_keys, on=seq_col, left_ts="frame", right_ts="n_idx",
        value_cols=["n_idx"] + [f"n_{c}" for c in chans], direction="forward",
    )
    seg = segments.select(
        seq_col, F.lower(F.col("behavior")).alias("behavior"),
        F.col("start_idx"), F.col("end_idx"),
    )
    joined = range_join(
        bracketed, seg, point_col="frame", start_col="start_idx",
        end_col="end_idx", keys=[seq_col], how="left",
    ).withColumn("behavior", F.coalesce(F.col("behavior"), F.lit("roam")))

    # clamp to nearest key at the edges; t in [0,1] inside a bracket
    p = {c: F.coalesce(F.col(f"p_{c}"), F.col(f"n_{c}")) for c in chans}
    n = {c: F.coalesce(F.col(f"n_{c}"), F.col(f"p_{c}")) for c in chans}
    p_idx = F.coalesce(F.col("p_idx"), F.col("n_idx"))
    n_idx = F.coalesce(F.col("n_idx"), F.col("p_idx"))
    t = F.when(
        n_idx != p_idx, (F.col("frame") - p_idx) / (n_idx - p_idx)
    ).otherwise(F.lit(0.0))

    def lerp(c):
        return p[c] + t * (n[c] - p[c])

    def alerp(c):
        return p[c] + t * wrap_delta(n[c] - p[c])

    b = F.col("behavior")
    is_idle = b.contains("idle")
    is_rotate = b.contains("rotate")
    is_translate = b.contains("translate")
    out_cols = []
    for c in pos_cols:
        out_cols.append(
            F.when(is_idle | is_rotate, p[c]).otherwise(lerp(c)).alias(c)
        )
    for c in angle_cols:
        out_cols.append(
            F.when(is_idle | is_translate, p[c]).otherwise(alerp(c)).alias(c)
        )
    return joined.select(seq_col, "frame", "behavior", *out_cols)


def with_session_ids(
    events: DataFrame,
    gap_us: int = 1800 * 1_000_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tie_col: str = "event_id",
) -> DataFrame:
    """Gap-based session ids (gaps-and-islands): a new session starts when
    the gap to the previous event exceeds ``gap_us``.  Shared by the batch
    `sessionize` query and the session-scoped funnel so the session rule
    (and its tie-break) lives in exactly one place.  Two windows over one
    (user, ts, tie) sort; adds a ``session_id`` column (1-based per user)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tie_col)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    gap = F.unix_micros(ts_col) - F.lag(F.unix_micros(ts_col)).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    return events.withColumn("session_id", F.sum(new_sess).over(wcum))


def merge_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
    tie_col: str | None = None,
) -> DataFrame:
    """Union overlapping/touching intervals per key into maximal islands.

    The classic interval-coverage sweep, window-expressed: order a key's
    intervals by (start, end), take the running max of ``end`` over all
    PRIOR rows; a new island starts exactly where ``start`` exceeds that
    high-water mark (a touching interval, ``start == prior max end``,
    merges — coverage is measured on closed intervals).  Island ids are a
    running sum of the starts, the standard gaps-and-islands trick.

    Output: one row per island — key, island_start, island_end,
    n_intervals.  Inputs with NULL bounds are dropped (they cannot be
    placed on the axis).

    Scale: ONE shuffle, on ``key_col`` — both windows and the final
    groupBy share it (the island key extends the partition key, so AQE
    plans no second exchange).  A key's intervals land in one task, keys
    parallelize; no cross-key state, no driver loop.  Start/end may be
    any mutually comparable orderable type (numeric, timestamp).
    """
    order = [F.col(start_col).asc(), F.col(end_col).asc()]
    if tie_col is not None:
        order.append(F.col(tie_col).asc())
    w = Window.partitionBy(key_col).orderBy(*order)
    prior_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prior_max_end.isNull() | (F.col(start_col) > prior_max_end), 1
    ).otherwise(0)
    islands = (
        df.filter(F.col(start_col).isNotNull() & F.col(end_col).isNotNull())
        .withColumn("__new", new_island)
        .withColumn(
            "__island",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return islands.groupBy(key_col, "__island").agg(
        F.min(start_col).alias("island_start"),
        F.max(end_col).alias("island_end"),
        F.count(F.lit(1)).alias("n_intervals"),
    ).drop("__island")


def global_index(
    df: DataFrame,
    order_cols: list,
    num_partitions: int | None = None,
    with_total: bool = False,
):
    """Dense global row index (0,1,2,…) in the total order given by
    ``order_cols`` — the scalable ``zipWithIndex`` analog, without ever
    funnelling the data through a single-task global sort window.

    Plan: ``repartitionByRange`` on the order (parallel range exchange) +
    sort within partitions, then ``row_idx`` from Spark's internal
    ``distributed_sequence_id`` — the ``AttachDistributedSequence``
    operator behind pandas-on-Spark's ``distributed-sequence`` index, so
    the public DataFrame API has no equivalent.  It runs ``zipWithIndex``
    over its child's partitions in partition order: a count sub-job and
    the indexing pass read one cached child RDD inside the final action,
    so both see the same sampled range bounds, and Spark releases that
    cache when the action ends (its level is pandas-on-Spark's
    ``compute.default_index_cache``, MEMORY_AND_DISK_SER by default).  A
    streaming micro-batch skips that release, so an index on a stream's
    static side stays cached until JVM GC frees the batch's plan.
    The result is a lazy plan; a global ``row_number()`` window is the
    single-partition anti-pattern this avoids.  ``order_cols`` should be
    a total order (include a unique tie-breaker) so the index is
    reproducible across runs.

    ``with_total=True`` returns ``(indexed_df, m)``: ``m`` is a Column
    holding the input's row count, from a broadcast 1-row ``count`` of the
    range-partitioned input cross-joined into ``indexed_df`` as
    ``__global_index_total``.  When ``df`` holds only columns the count
    branch keeps (the order columns), the count reads the index's range
    exchange through exchange reuse, also inside a streaming micro-batch
    where AQE is off; otherwise column pruning gives it its own.  A row
    count does not depend on the partitioning, so the count cannot
    disagree with the index either way.  Counting an input that is itself
    indexed re-runs that index, so a chain of tilings should share one
    count (``q_rfm_segments`` does).
    """
    from pyspark.sql.internal import InternalFunction  # noqa: PLC0415

    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *order_cols)
    out = ranged.sortWithinPartitions(*order_cols).withColumn(
        "row_idx", InternalFunction.distributed_sequence_id()
    )
    if not with_total:
        return out
    total = ranged.agg(F.count(F.lit(1)).alias("__global_index_total"))
    return out.crossJoin(F.broadcast(total)), F.col("__global_index_total")


def ntile_global(
    df: DataFrame,
    n: int,
    order_cols: list,
    out_col: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``ntile(n) OVER (ORDER BY order_cols)`` without the
    single-partition WindowExec a global-order window plans to.

    Semantics are bit-identical to SQL ``ntile``: with ``m`` rows,
    ``q, r = divmod(m, n)``, the first ``r`` tiles get ``q + 1`` rows and
    the rest get ``q`` — computed arithmetically from the dense global
    row index that :func:`global_index` assigns via a parallel range
    exchange and Spark's internal distributed sequence.  Because the
    semantics match, existing ``ntile`` SQL oracles stay valid verbatim.

    ``order_cols`` must be a total order (include a unique tie-breaker)
    exactly as the window form required for engine-stable tiling.  The
    result is lazy; the index's child is cached only for the duration of
    the action that runs it.
    """
    if n < 1:
        raise ValueError("ntile_global: n must be >= 1")
    idx, m = global_index(
        df, order_cols, num_partitions=num_partitions, with_total=True
    )
    return idx.withColumn(
        out_col, ntile_expr(F.col("row_idx"), m, n)
    ).drop("row_idx", "__global_index_total")


def ntile_expr(index_col, m, n: int):
    """SQL-``ntile(n)`` tile id (1-based int) computed arithmetically from
    a dense 0-based global row index over ``m`` rows: with
    ``q, r = divmod(m, n)`` the first ``r`` tiles take ``q + 1`` rows and
    the rest ``q`` — the exact window-function convention.  ``m`` is a
    row-count Column in the same frame, e.g. the one :func:`global_index`
    returns with ``with_total``, so the count is evaluated inside the same
    lazy plan as the index (Spark's internal distributed sequence, whose
    cache lives only for the action).  Shared by :func:`ntile_global` and
    callers that need the raw index AND the tile (e.g. the gini rank
    query), so the subtle tiling arithmetic lives in one place."""
    q = F.floor(m / n)
    r = m - q * n
    big = r * (q + 1)  # rows covered by the (q+1)-sized leading tiles
    tile = F.when(index_col < big, F.floor(index_col / (q + 1))).otherwise(
        # q == 0 can only happen when m < n, where every row lands in the
        # `index_col < big` branch (big == m); greatest(q, 1) just keeps
        # the dead branch from dividing by zero.
        r + F.floor((index_col - big) / F.greatest(q, F.lit(1)))
    )
    return tile.cast("int") + F.lit(1)
