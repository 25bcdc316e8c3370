"""Stateful scan tests: rate limiter + unwrap cross-check."""

import numpy as np
import pytest

import ref_stateful
from worlddatapipeline_spark.operators import stateful, windows


def test_rate_limit_series_property():
    rng = np.random.default_rng(3)
    vals = rng.random(200) * 360 - 180
    out, _ = stateful.rate_limit_series(vals, max_step=5.0)
    assert np.abs(np.diff(out)).max() <= 5.0 + 1e-12
    assert out[0] == vals[0]


def test_rate_limit_series_clamp():
    vals = np.array([0.0, 100.0, -100.0])
    out, _ = stateful.rate_limit_series(vals, max_step=50.0, lo=-30.0, hi=30.0)
    assert out.min() >= -30.0 and out.max() <= 30.0


def test_rate_limit_spark(spark):
    rows = [("s", i, float((i * 97) % 360 - 180)) for i in range(100)]
    df = spark.createDataFrame(rows, ["seq", "ord", "v"])
    out = (
        stateful.rate_limit(df, "seq", "ord", "v", max_rate=10.0, dt=1.0)
        .orderBy("ord")
        .select("limited")
        .collect()
    )
    vals = np.array([r[0] for r in out])
    assert np.abs(np.diff(vals)).max() <= 10.0 + 1e-9
    # golden via the numpy scan
    exp, _ = stateful.rate_limit_series(
        np.array([r[2] for r in rows]), max_step=10.0
    )
    assert np.allclose(vals, exp)


def test_unwrap_pandas_matches_window_form(spark):
    """Differential: applyInPandas numpy unwrap == closed-form window unwrap."""
    rng = np.random.default_rng(11)
    angles = (rng.random(300) * 700 - 350).tolist()
    df = spark.createDataFrame(
        [("s", i, float(a)) for i, a in enumerate(angles)], ["seq", "ord", "angle"]
    )
    a = (
        ref_stateful.unwrap_pandas(df, "seq", "ord", "angle")
        .orderBy("ord")
        .select("unwrapped")
        .collect()
    )
    b = (
        windows.unwrap_angle(df, "seq", "ord", "angle")
        .orderBy("ord")
        .select("unwrapped")
        .collect()
    )
    assert np.allclose([r[0] for r in a], [r[0] for r in b], atol=1e-9)


def test_approach_target(spark):
    df = spark.createDataFrame(
        [("s", i, 90.0) for i in range(10)], ["seq", "ord", "target"]
    )
    out = (
        stateful.approach_target(df, "seq", "ord", "target", max_rate=300.0, fps=30.0)
        .orderBy("ord")
        .select("yaw")
        .collect()
    )
    vals = [r[0] for r in out]
    # starts at target[0]=90 -> immediately at target and stays
    assert vals[-1] == pytest.approx(90.0)
    assert np.abs(np.diff(vals)).max() <= 10.0 + 1e-9


def test_ewma_series_matches_pandas_ewm():
    import numpy as np
    import pandas as pd

    from worlddatapipeline_spark.operators.stateful import ewma_series

    rng = np.random.default_rng(11)
    x = rng.uniform(0, 100, 500).round(3)
    got, state = ewma_series(x, alpha=0.25)
    exp = pd.Series(x).ewm(alpha=0.25, adjust=False).mean().to_numpy()
    assert np.allclose(got, exp, rtol=0, atol=1e-9)
    assert state == got[-1]


def test_ewma_state_carries_across_batches():
    import numpy as np

    from worlddatapipeline_spark.operators.stateful import ewma_series

    x = np.arange(100, dtype=np.float64)
    whole, _ = ewma_series(x, alpha=0.25)
    a, st = ewma_series(x[:37], alpha=0.25)
    b, _ = ewma_series(x[37:], alpha=0.25, prev=st)
    assert np.array_equal(np.concatenate([a, b]), whole)


def test_ewma_dataframe_scan(spark):
    import numpy as np

    from worlddatapipeline_spark.operators.stateful import ewma, ewma_series

    rows = [(g, i, float(v)) for g in (1, 2) for i, v in enumerate([5, 9, 1, 7, 3])]
    df = spark.createDataFrame(rows, ["g", "t", "v"])
    out = ewma(df, "g", "t", "v", alpha=0.25).collect()
    exp, _ = ewma_series(np.array([5, 9, 1, 7, 3], dtype=np.float64), 0.25)
    for r in out:
        assert r["ewma"] == exp[r["t"]]
