"""Property tests for the session's analytics additions: Kaplan-Meier,
Holt fold, Theil-Sen robustness."""

from pyspark.sql import functions as F


def test_kaplan_meier_matches_python_replay(spark):
    from worlddatapipeline_spark.queries_mining import q_kaplan_meier_churn

    rows = q_kaplan_meier_churn(spark, "/root/testdata/sf0.001").collect()
    assert rows, "expected at least one death time"
    rows = sorted(rows, key=lambda r: r.t_hour)
    # survival is nonincreasing and equals the explicit running product
    s = 1.0
    prev = 1.0
    for r in rows:
        s = s * ((r.n_at_risk - r.d) / r.n_at_risk)
        assert r.survival == s  # bit-identical replay
        assert r.survival <= prev
        prev = r.survival
    # risk sets shrink as time advances
    for a, b in zip(rows, rows[1:]):
        assert b.n_at_risk < a.n_at_risk


def test_holt_fold_matches_python_replay(spark):
    from worlddatapipeline_spark.queries_mining import q_holt_trend_forecast
    from worlddatapipeline_spark.session import load_tables

    out = {
        r.event_type: r
        for r in q_holt_trend_forecast(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    events = load_tables(spark, "/root/testdata/sf0.001", ["events"])[
        "events"
    ]
    daily = (
        events.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.floor(F.col("value") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("v"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v").cast("double").alias("y"))
        .collect()
    )
    series: dict[str, list[tuple[int, float]]] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r.y))
    for et, pts in series.items():
        ys = [y for _, y in sorted(pts)]
        level, trend = ys[0], ys[1] - ys[0]
        for y in ys[2:]:
            lp = 0.25 * y + 0.75 * (level + trend)
            tp = 0.125 * (lp - level) + 0.875 * trend
            level, trend = lp, tp
        assert out[et].level == level
        assert out[et].trend == trend
        assert out[et].forecast_3d == level + 3.0 * trend


def test_theil_sen_ignores_single_outlier(spark):
    from worlddatapipeline_spark.operators import mining  # noqa: F401

    # build two series: clean slope 2/day, and the same with one wild
    # outlier day; the median pairwise slope must not move
    def median_slope(vals):
        rows = [("a", d, v) for d, v in enumerate(vals)]
        df = spark.createDataFrame(rows, ["event_type", "day", "y_us"])
        pairs = (
            df.alias("a")
            .join(
                df.alias("b"),
                (F.col("a.event_type") == F.col("b.event_type"))
                & (F.col("a.day") < F.col("b.day")),
            )
            .select(
                F.expr("(b.y_us - a.y_us) div (b.day - a.day)").alias("s")
            )
            .orderBy("s")
            .collect()
        )
        n = len(pairs)
        return pairs[(n + 1) // 2 - 1].s

    clean = [10 + 2 * d for d in range(9)]
    dirty = list(clean)
    dirty[4] = 10_000
    assert median_slope(clean) == 2
    assert median_slope(dirty) == 2


def test_dominant_frequency_16bit_path(spark):
    import numpy as np

    from worlddatapipeline_spark.operators import multimodal as mm

    # int16 WAV at bin 17 of 512 samples; the 16-bit decode branch must
    # recover the same bin the 8-bit registry query exercises
    t = np.arange(512, dtype=np.float64)
    wave = (12000 * np.sin(2 * np.pi * 17 * t / 512)).astype(np.int16)
    payload = mm.encode_wav_pcm(wave, sample_rate=16000)
    df = spark.createDataFrame([(1, bytearray(payload))], "media_id long, data binary")
    row = mm.dominant_frequency_bins(df).collect()[0]
    assert row.n_samples == 512
    assert row.dom_bin == 17


def test_average_hash_robust_to_pixel_noise(spark):
    import hashlib

    import numpy as np

    from worlddatapipeline_spark.operators import multimodal as mm

    # the defining perceptual property: small pixel jitter must not move
    # the hash, so a noisy re-encode of the same image dedups with it
    v = int(hashlib.md5(b"7").hexdigest()[:15], 16)
    bits = np.array([(v >> k) & 1 for k in range(64)], dtype=np.uint8)
    img = np.where(
        np.kron(bits.reshape(8, 8), np.ones((8, 8), dtype=np.uint8)), 200, 50
    ).astype(np.int16)
    rng = np.random.default_rng(42)
    noisy = np.clip(img + rng.integers(-3, 4, img.shape), 0, 255).astype(
        np.uint8
    )
    rows = [
        (1, bytearray(
            mm.encode_bmp_indexed(img.astype(np.uint8), mm._GRAY_PALETTE)
        )),
        (2, bytearray(mm.encode_bmp_indexed(noisy, mm._GRAY_PALETTE))),
    ]
    df = spark.createDataFrame(rows, "media_id long, data binary")
    out = {r.media_id: r.ahash for r in mm.average_hash_64(df).collect()}
    assert out[1] == v
    assert out[2] == v


def test_average_hash_bit63_wraps_signed(spark):
    import numpy as np

    from worlddatapipeline_spark.operators import multimodal as mm

    # dark image with only the bottom-right (bit-63) block bright: the
    # hash must wrap to a negative signed int64, not overflow Arrow
    img = np.full((64, 64), 50, dtype=np.uint8)
    img[56:, 56:] = 200
    df = spark.createDataFrame(
        [(1, bytearray(mm.encode_bmp_indexed(img, mm._GRAY_PALETTE)))],
        "media_id long, data binary",
    )
    row = mm.average_hash_64(df).collect()[0]
    assert row.ahash == -(1 << 63)  # only bit 63 set, signed
