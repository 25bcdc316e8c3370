"""Window / time-series operator tests with numpy goldens."""

import math

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from worlddatapipeline_spark.operators import windows


def _path_df(spark, pts, seq="s1"):
    return spark.createDataFrame(
        [(seq, i, float(x), float(y), float(z)) for i, (x, y, z) in enumerate(pts)],
        ["seq", "ord", "x", "y", "z"],
    )


def test_cumulative_distance(spark):
    df = _path_df(spark, [(0, 0, 0), (3, 4, 0), (3, 4, 12)])
    out = (
        windows.cumulative_distance(df, "seq", "ord")
        .orderBy("ord")
        .select("cum_dist")
        .collect()
    )
    assert [r[0] for r in out] == pytest.approx([0.0, 5.0, 17.0])


def test_path_length(spark):
    df = _path_df(spark, [(0, 0, 0), (1, 0, 0), (1, 1, 0)])
    out = windows.path_length(df, "seq", "ord").collect()
    assert out[0]["path_length"] == pytest.approx(2.0)


def test_unwrap_matches_numpy(spark):
    angles = [170.0, -170.0, -150.0, 150.0, 170.0, -170.0, -90.0]
    df = spark.createDataFrame(
        [("s", i, a) for i, a in enumerate(angles)], ["seq", "ord", "angle"]
    )
    out = (
        windows.unwrap_angle(df, "seq", "ord", "angle")
        .orderBy("ord")
        .select("unwrapped")
        .collect()
    )
    exp = np.degrees(np.unwrap(np.radians(angles)))
    assert [r[0] for r in out] == pytest.approx(list(exp))


def test_unwrap_continuity_property(spark):
    """Property: consecutive unwrapped steps are < 180° in magnitude."""
    rng = np.random.default_rng(7)
    angles = ((rng.random(500) * 720) - 360).tolist()
    df = spark.createDataFrame(
        [("s", i, float(a)) for i, a in enumerate(angles)], ["seq", "ord", "angle"]
    )
    out = (
        windows.unwrap_angle(df, "seq", "ord", "angle")
        .orderBy("ord")
        .select("unwrapped")
        .collect()
    )
    vals = np.array([r[0] for r in out])
    assert np.abs(np.diff(vals)).max() <= 180.0 + 1e-9


def test_pitch_from_slope(spark):
    df = _path_df(spark, [(0, 0, 0), (1, 0, 1), (2, 0, 1)])
    out = (
        windows.pitch_from_slope(df, "seq", "ord")
        .orderBy("ord")
        .select("pitch")
        .collect()
    )
    assert out[0][0] == pytest.approx(45.0)
    assert out[1][0] == pytest.approx(0.0)
    assert out[2][0] == pytest.approx(0.0)  # carried forward


def test_yaw_from_trajectory(spark):
    df = _path_df(spark, [(0, 0, 0), (1, 1, 0), (1, 2, 0)])
    out = (
        windows.yaw_from_trajectory(df, "seq", "ord")
        .orderBy("ord")
        .select("yaw")
        .collect()
    )
    assert out[0][0] == pytest.approx(45.0)
    assert out[1][0] == pytest.approx(90.0)


def _numpy_arc_resample(pts, n):
    pts = np.asarray(pts, dtype=float)
    seg = np.linalg.norm(np.diff(pts, axis=0), axis=1)
    cum = np.concatenate([[0.0], np.cumsum(seg)])
    total = cum[-1]
    targets = np.linspace(0.0, total, n)
    out = []
    for t in targets:
        i = np.searchsorted(cum, t, side="right") - 1
        i = min(i, len(seg) - 1)
        f = 0.0 if seg[i] == 0 else (t - cum[i]) / seg[i]
        out.append(pts[i] + f * (pts[i + 1] - pts[i]))
    return np.array(out)


def test_arc_length_resample_matches_numpy(spark):
    pts = [(0, 0, 0), (10, 0, 0), (10, 5, 0), (20, 5, 0)]
    df = _path_df(spark, pts)
    out = (
        windows.arc_length_resample(df, "seq", "ord", 7)
        .orderBy("k")
        .select("x", "y", "z")
        .collect()
    )
    exp = _numpy_arc_resample(pts, 7)
    got = np.array([[r["x"], r["y"], r["z"]] for r in out])
    assert got.shape == exp.shape
    assert np.allclose(got, exp, atol=1e-9)


def test_arc_length_resample_endpoints(spark):
    pts = [(1, 2, 3), (4, 5, 6), (9, 9, 9)]
    df = _path_df(spark, pts)
    out = (
        windows.arc_length_resample(df, "seq", "ord", 5)
        .orderBy("k")
        .collect()
    )
    assert (out[0]["x"], out[0]["y"], out[0]["z"]) == pytest.approx((1, 2, 3))
    assert (out[-1]["x"], out[-1]["y"], out[-1]["z"]) == pytest.approx((9, 9, 9))


def test_fixed_speed_truncate(spark):
    # straight line length 10; speed*duration = 4.5 -> boundary at x=4.5
    df = _path_df(spark, [(0, 0, 0), (1, 0, 0), (2, 0, 0), (10, 0, 0)])
    out = (
        windows.fixed_speed_truncate(df, "seq", "ord", speed=1.5, duration=3.0)
        .orderBy("ord")
        .collect()
    )
    xs = [r["x"] for r in out]
    assert xs == pytest.approx([0.0, 1.0, 2.0, 4.5])
    assert out[-1]["cum_dist"] == pytest.approx(4.5)


def test_frame_grid(spark):
    seqs = spark.createDataFrame([("s1", 5), ("s2", 3)], ["seq", "n_frames"])
    out = windows.frame_grid(seqs, "seq", "n_frames", fps=30.0).collect()
    per = {}
    for r in out:
        per.setdefault(r["seq"], []).append((r["frame"], r["time_seconds"]))
    assert sorted(per["s1"]) == [(i, pytest.approx(i / 30.0)) for i in range(5)]
    assert len(per["s2"]) == 3


def test_wrap_delta_half_case(spark):
    df = spark.createDataFrame([(180.0,), (-180.0,), (540.0,), (10.0,)], ["d"])
    out = df.select(windows.wrap_delta(F.col("d")).alias("w")).collect()
    assert [r["w"] for r in out] == pytest.approx([-180.0, -180.0, -180.0, 10.0])


def test_behavior_resample(spark):
    """Behavior-aware resample vs hand-computed expectations
    (`worker_create.py:695-896` semantics)."""
    from worlddatapipeline_spark.operators.windows import behavior_resample

    keys = spark.createDataFrame(
        [
            ("s", 0, 0.0, 0.0, 0.0, 170.0, 0.0),
            ("s", 4, 40.0, 0.0, 0.0, -170.0, 20.0),
            ("s", 8, 40.0, 40.0, 0.0, -90.0, 0.0),
        ],
        "sequence_id string, idx long, x double, y double, z double, "
        "yaw double, pitch double",
    )
    segments = spark.createDataFrame(
        [
            ("s", "roam", 0, 3),
            ("s", "rotate", 4, 5),
            ("s", "translate_forward", 6, 7),
            ("s", "idle", 8, 8),
        ],
        "sequence_id string, behavior string, start_idx long, end_idx long",
    )
    out = {
        r["frame"]: r
        for r in behavior_resample(keys, segments).collect()
    }
    assert len(out) == 9
    # frame 2 (roam): t=0.5 between keys 0 and 4 -> pos lerp, yaw shortest-arc
    # through 180 (170 -> -170 is +20 wrapped), pitch lerp
    assert out[2]["x"] == pytest.approx(20.0)
    assert out[2]["yaw"] == pytest.approx(180.0)  # 170 + 0.5*20
    assert out[2]["pitch"] == pytest.approx(10.0)
    # frame 5 (rotate): position HELD at key 4, angles lerp toward key 8
    assert out[5]["x"] == pytest.approx(40.0) and out[5]["y"] == pytest.approx(0.0)
    assert out[5]["yaw"] == pytest.approx(-170.0 + 0.25 * 80.0)
    # frame 6 (translate): position lerps, angles HELD at key 4
    assert out[6]["y"] == pytest.approx(20.0)
    assert out[6]["yaw"] == pytest.approx(-170.0)
    assert out[6]["pitch"] == pytest.approx(20.0)
    # frame 8 (idle): exactly at last key
    assert out[8]["x"] == pytest.approx(40.0) and out[8]["y"] == pytest.approx(40.0)
    assert out[8]["yaw"] == pytest.approx(-90.0)


def test_arc_length_resample_stationary_path(spark):
    """A zero-length (stationary) path resamples to N copies of the point —
    it must not silently vanish (regression: L==0 matched no segment)."""
    df = spark.createDataFrame(
        [("s", i, 7.0, -3.0, 2.0) for i in range(4)],
        "seq string, ord int, x double, y double, z double",
    )
    from worlddatapipeline_spark.operators.windows import arc_length_resample

    out = arc_length_resample(df, "seq", "ord", 5).collect()
    assert len(out) == 5
    assert sorted(r["k"] for r in out) == [0, 1, 2, 3, 4]
    assert all(r["x"] == 7.0 and r["y"] == -3.0 and r["z"] == 2.0 for r in out)


def test_arc_length_resample_refuses_bad_n_points(spark):
    """N is a Python int of at least 2, checked when the plan is built: N=1
    would divide by N-1 = 0, and a column name cannot size the grid."""
    df = _path_df(spark, [(0, 0, 0), (1, 0, 0)])
    for bad in (1, 0, -3):
        with pytest.raises(ValueError, match="n_points >= 2"):
            windows.arc_length_resample(df, "seq", "ord", bad)
    with pytest.raises(TypeError):
        windows.arc_length_resample(df, "seq", "ord", "n_points")


# one path: fresh vertices, repeats of the previous vertex (zero-length
# segments), an optional zero-length tail, or a stationary point
_coord = st.one_of(
    st.integers(-20, 20).map(float),
    st.floats(-1e3, 1e3, allow_nan=False, allow_infinity=False),
)
_vertex = st.tuples(_coord, _coord, _coord)


@st.composite
def _paths(draw):
    if draw(st.booleans()) and draw(st.booleans()):
        return [draw(_vertex)] * draw(st.integers(1, 4))
    pts = [draw(_vertex)]
    for _ in range(draw(st.integers(0, 7))):
        pts.append(pts[-1] if draw(st.booleans()) else draw(_vertex))
    return pts + [pts[-1]] * draw(st.integers(0, 2))


def _seq_df(spark, paths):
    return spark.createDataFrame(
        [(f"s{i}", j, *p) for i, path in enumerate(paths) for j, p in enumerate(path)],
        "seq string, ord int, x double, y double, z double",
    )


@given(st.lists(_paths(), min_size=1, max_size=4), st.sampled_from([2, 3, 7, 24]))
@example([[(0.0, 0.0, 0.0), (1.0, 0.0, 0.0), (1.0, 0.0, 0.0), (3.0, 0.0, 0.0)]], 7)
@example([[(0.0, 0.0, 0.0), (0.1, 0.2, 0.3), (0.1, 0.2, 0.3), (0.1, 0.2, 0.3)]], 3)
@example([[(5.0, 5.0, 5.0)] * 3, [(1.0, 2.0, 3.0)], [(0.0, 0.0, 0.0), (0.3, 0.0, 0.0)]], 24)
@settings(max_examples=20, deadline=None)
def test_arc_length_resample_one_pass_matches_join_form(spark, paths, n):
    """The one-pass resample gives exactly the rows of the grid ⋈ segment
    join form (tests/ref_windows.py): repeated vertices, zero-length tails,
    stationary and single-vertex paths, several sequences at once."""
    from ref_windows import arc_length_resample_join

    df = _seq_df(spark, paths)
    got = windows.arc_length_resample(df, "seq", "ord", n).collect()
    ref = arc_length_resample_join(df, "seq", "ord", n).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, ref))
    assert len(got) == n * sum(len(p) > 1 for p in paths)


def test_arc_length_resample_reads_input_once(spark, tmp_path):
    """One window pass: the physical plan has no join and no broadcast, and
    scans the input once."""
    path = str(tmp_path / "path.parquet")
    _seq_df(spark, [[(0.0, 0.0, 0.0), (3.0, 4.0, 0.0), (3.0, 4.0, 12.0)],
                   [(1.0, 1.0, 1.0)] * 2]) \
        .write.parquet(path)
    out = windows.arc_length_resample(spark.read.parquet(path), "seq", "ord", 5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "BroadcastExchange" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert out.count() == 10


def test_clip_segments_after_truncation(spark):
    """Reference worker_create.py:536-582 rules: inside kept, straddler
    clipped, beyond dropped; untruncated sequences keep everything."""
    from worlddatapipeline_spark.operators.windows import (
        clip_segments_after_truncation,
    )

    segments = spark.createDataFrame(
        [  # seq, seg_no, start, end
            ("a", 0, 0, 9), ("a", 1, 10, 19), ("a", 2, 20, 29),
            ("b", 0, 0, 9), ("b", 1, 10, 19),
        ],
        ["seq", "seg_no", "start_idx", "end_idx"],
    )
    limits = spark.createDataFrame(
        [("a", 15), ("b", 20)], ["seq", "n_points"]
    )  # a truncated to idx 14; b untouched
    out = {
        (r["seq"], r["seg_no"]): (r["start_idx"], r["end_idx"])
        for r in clip_segments_after_truncation(
            segments, limits, "seq", "n_points"
        ).collect()
    }
    assert out[("a", 0)] == (0, 9)      # fully inside
    assert out[("a", 1)] == (10, 14)    # straddler clipped
    assert ("a", 2) not in out          # beyond -> dropped
    assert out[("b", 0)] == (0, 9) and out[("b", 1)] == (10, 19)


def test_time_grid_ffill(spark):
    """Hourly grid spans min..max per sequence; gap buckets carry the last
    value forward; in-bucket ties resolve by the tiebreak column."""
    import datetime as dt

    from worlddatapipeline_spark.operators.windows import time_grid_ffill

    t0 = dt.datetime(2024, 1, 1, 10, 15)
    rows = [
        ("u", t0, 1, 10.0),
        ("u", t0.replace(minute=45), 2, 11.0),           # same bucket, higher id wins
        ("u", t0 + dt.timedelta(hours=3), 3, 30.0),       # 2-hour gap before this
    ]
    df = spark.createDataFrame(rows, ["seq", "ts", "eid", "v"])
    out = sorted(
        time_grid_ffill(df, "seq", "ts", "v", tiebreak_col="eid").collect(),
        key=lambda r: r["bucket_ts"],
    )
    assert len(out) == 4                               # 10:00 11:00 12:00 13:00
    assert [r["filled"] for r in out] == [11.0, 11.0, 11.0, 30.0]
    assert [r["value"] for r in out] == [11.0, None, None, 30.0]


def test_time_grid_ffill_sub_hour_step(spark):
    """Non-hour steps must bucket on step boundaries (epoch floor), so the
    grid join hits every bucket — date_trunc would misalign 15-minute grids."""
    import datetime as dt

    from worlddatapipeline_spark.operators.windows import time_grid_ffill

    t0 = dt.datetime(2024, 1, 1, 10, 7)
    rows = [
        ("u", t0, 1, 1.0),                            # bucket 10:00
        ("u", t0 + dt.timedelta(minutes=40), 2, 2.0),  # bucket 10:45
    ]
    df = spark.createDataFrame(rows, ["seq", "ts", "eid", "v"])
    out = sorted(
        time_grid_ffill(df, "seq", "ts", "v", step="15 minutes", tiebreak_col="eid").collect(),
        key=lambda r: r["bucket_ts"],
    )
    assert [r["bucket_ts"].minute for r in out] == [0, 15, 30, 45]
    assert [r["filled"] for r in out] == [1.0, 1.0, 1.0, 2.0]


def test_merge_intervals_overlap_touch_nest_disjoint(spark):
    from worlddatapipeline_spark.operators.windows import merge_intervals

    df = spark.createDataFrame(
        [
            # u1: [0,10] overlaps [5,20], touched by [20,25] -> one island;
            # [30,40] nests [32,35] -> second island
            ("u1", 1, 0, 10), ("u1", 2, 5, 20), ("u1", 3, 20, 25),
            ("u1", 4, 30, 40), ("u1", 5, 32, 35),
            # u2: two disjoint singletons
            ("u2", 6, 0, 1), ("u2", 7, 3, 4),
        ],
        "k string, id int, s int, e int",
    )
    out = {
        (r["k"], r["island_start"]): (r["island_end"], r["n_intervals"])
        for r in merge_intervals(df, "k", "s", "e", tie_col="id").collect()
    }
    assert out[("u1", 0)] == (25, 3)
    assert out[("u1", 30)] == (40, 2)
    assert out[("u2", 0)] == (1, 1)
    assert out[("u2", 3)] == (4, 1)
    assert len(out) == 4


def test_merge_intervals_null_bounds_dropped(spark):
    from worlddatapipeline_spark.operators.windows import merge_intervals

    df = spark.createDataFrame(
        [("k", 1, 0, 5), ("k", 2, None, 9), ("k", 3, 7, None)],
        "k string, id int, s int, e int",
    )
    rows = merge_intervals(df, "k", "s", "e", tie_col="id").collect()
    assert len(rows) == 1 and rows[0]["n_intervals"] == 1


def test_global_index_dense_and_ordered(spark):
    """Indices are exactly 0..n-1 and monotone in the requested total
    order, across many range partitions; chained multi-column ntile_global
    tilings equal window ntile, including m % n != 0, m < n and an empty
    input."""
    import random

    from pyspark.sql import Window

    from worlddatapipeline_spark.operators.windows import (
        global_index,
        ntile_expr,
        ntile_global,
    )

    rng = random.Random(11)
    rows = [(i, rng.random()) for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, v double").repartition(16)
    out = global_index(df, ["v", "id"], num_partitions=8).collect()
    assert sorted(r["row_idx"] for r in out) == list(range(5000))
    by_idx = sorted(out, key=lambda r: r["row_idx"])
    keys = [(r["v"], r["id"]) for r in by_idx]
    assert keys == sorted(keys)

    # rfm_segments' shape: three chained tilings, mixed asc/desc orders
    # over tie-heavy values with a unique tie-breaker, 8 range partitions
    orders = [
        ("r", [F.col("a").asc(), F.col("id").asc()]),
        ("f", [F.col("b").desc(), F.col("id").asc()]),
        ("m", [F.col("c").desc(), F.col("a").asc(), F.col("id").asc()]),
    ]
    for m, n in ((1003, 5), (3, 5), (10, 5), (0, 5)):
        data = [
            (i, rng.randint(0, 9), rng.randint(0, 3), rng.randint(0, 40))
            for i in range(m)
        ]
        base = spark.createDataFrame(
            data, "id long, a int, b int, c long"
        ).repartition(4)
        # ntile_global per level, and rfm_segments' form: one shared count
        tiled = want = base
        shared = base.crossJoin(base.agg(F.count(F.lit(1)).alias("n_total")))
        for name, order in orders:
            tiled = ntile_global(
                tiled, n, order, out_col=name, num_partitions=8
            )
            shared = global_index(shared, order, num_partitions=8).withColumn(
                name, ntile_expr(F.col("row_idx"), F.col("n_total"), n)
            ).drop("row_idx")
            want = want.withColumn(
                name, F.ntile(n).over(Window.orderBy(*order))
            )
        cols = ["id", "r", "f", "m"]
        expected = sorted(want.select(cols).collect())
        assert sorted(tiled.select(cols).collect()) == expected, (m, n)
        assert sorted(shared.select(cols).collect()) == expected, (m, n)
    empty = spark.createDataFrame([], "id long, v double")
    assert global_index(empty, ["v", "id"], num_partitions=8).count() == 0
