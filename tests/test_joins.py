"""Join operator tests: as-of, range, ranking dedup, anti-diff, prefix."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from worlddatapipeline_spark.operators import joins


def test_asof_backward_matches_merge_asof(spark):
    left = spark.createDataFrame(
        [("a", 5.0, 1), ("a", 10.0, 2), ("a", 0.5, 3), ("b", 7.0, 4)],
        ["k", "t", "lid"],
    )
    right = spark.createDataFrame(
        [("a", 1.0, 100), ("a", 5.0, 200), ("a", 9.0, 300), ("b", 8.0, 400)],
        ["k", "rt", "val"],
    )
    out = joins.asof_join(
        left, right, on="k", left_ts="t", right_ts="rt", value_cols=["val"]
    ).toPandas().sort_values("lid").reset_index(drop=True)
    lp = pd.DataFrame(
        {"k": ["a", "a", "a", "b"], "t": [5.0, 10.0, 0.5, 7.0], "lid": [1, 2, 3, 4]}
    ).sort_values("t")
    rp = pd.DataFrame(
        {"k": ["a", "a", "a", "b"], "rt": [1.0, 5.0, 9.0, 8.0], "val": [100, 200, 300, 400]}
    ).sort_values("rt")
    exp = pd.merge_asof(
        lp, rp, left_on="t", right_on="rt", by="k", direction="backward"
    ).sort_values("lid").reset_index(drop=True)
    assert list(out["val"].fillna(-1)) == list(exp["val"].fillna(-1))


def test_asof_forward(spark):
    left = spark.createDataFrame([("a", 2.0, 1)], ["k", "t", "lid"])
    right = spark.createDataFrame(
        [("a", 1.0, 10), ("a", 3.0, 30)], ["k", "rt", "val"]
    )
    out = joins.asof_join(
        left, right, on="k", left_ts="t", right_ts="rt",
        value_cols=["val"], direction="forward",
    ).collect()
    assert out[0]["val"] == 30


def test_asof_inclusive_tie(spark):
    """Equal timestamps match (inclusive), as in merge_asof default."""
    left = spark.createDataFrame([("a", 5.0, 1)], ["k", "t", "lid"])
    right = spark.createDataFrame([("a", 5.0, 99)], ["k", "rt", "val"])
    out = joins.asof_join(
        left, right, on="k", left_ts="t", right_ts="rt", value_cols=["val"]
    ).collect()
    assert out[0]["val"] == 99


@pytest.mark.parametrize("bucket", [None, 10.0])
def test_range_join_both_paths(spark, bucket):
    points = spark.createDataFrame([(i, float(i)) for i in range(100)], ["pid", "v"])
    intervals = spark.createDataFrame(
        [("lo", 0.0, 24.0), ("mid", 25.0, 74.0), ("hi", 75.0, 99.0)],
        ["band", "lo", "hi"],
    )
    out = joins.range_join(
        points, intervals, "v", "lo", "hi", bucket_size=bucket
    )
    counts = {r["band"]: r["n"] for r in out.groupBy("band").agg(F.count("*").alias("n")).collect()}
    assert counts == {"lo": 25, "mid": 50, "hi": 25}


def test_range_join_with_keys(spark):
    points = spark.createDataFrame(
        [("s1", 5.0, 1), ("s2", 5.0, 2)], ["seq", "frame", "pid"]
    )
    intervals = spark.createDataFrame(
        [("s1", 0.0, 10.0, "walk"), ("s2", 0.0, 3.0, "idle")],
        ["seq", "start", "end", "behavior"],
    )
    out = joins.range_join(
        points, intervals, "frame", "start", "end", keys=["seq"]
    ).collect()
    assert len(out) == 1 and out[0]["behavior"] == "walk"


def test_first_occurrence(spark):
    df = spark.createDataFrame(
        [("k1", "bbb", 2), ("k1", "aa", 1), ("k2", "c", 3)], ["key", "path", "id"]
    )
    out = joins.top_k_per_group(df, ["key"], [F.length("path").asc()], 1).collect()
    got = {r["key"]: r["path"] for r in out}
    assert got == {"k1": "aa", "k2": "c"}


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("g", i, float(100 - i)) for i in range(10)], ["grp", "id", "score"]
    )
    out = joins.top_k_per_group(
        df, ["grp"], [F.col("score").desc()], k=3, rank_col="rank"
    ).collect()
    assert sorted(r["id"] for r in out) == [0, 1, 2]
    assert sorted(r["rank"] for r in out) == [1, 2, 3]


def test_anti_diff(spark):
    src = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    tgt = spark.createDataFrame([(2,), (2,)], ["id"])
    out = joins.anti_diff(src, tgt, ["id"]).collect()
    assert sorted(r["id"] for r in out) == [1, 3]


def test_prefix_join(spark):
    seqs = spark.createDataFrame(
        [("Demo001",), ("Demo002",), ("Other9",)], ["seq_name"]
    )
    maps = spark.createDataFrame([("Demo",), ("Map",)], ["map_name"])
    out = joins.prefix_join(seqs, maps, "seq_name", "map_name").collect()
    assert sorted(r["seq_name"] for r in out) == ["Demo001", "Demo002"]


def test_asof_mixed_datetime_types_coerce_to_timestamp(spark):
    """DATE on one side, TIMESTAMP on the other: both coerce to TIMESTAMP
    (a double cast would throw) and match chronologically."""
    import datetime as dt

    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, dt.date(2024, 1, 10))], ["k", "lts"]
    )
    right = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 9, 23, 0), "before"),
            (1, dt.datetime(2024, 1, 10, 12, 0), "after"),
        ],
        ["k", "rts", "v"],
    )
    out = joins.asof_join(left, right, "k", "lts", "rts", ["v"]).collect()
    assert len(out) == 1 and out[0]["v"] == "before"


def test_asof_numeric_string_ts_orders_numerically(spark):
    """String axes fall back to the double cast: '9' must sort before '10'."""
    left = spark.createDataFrame([(1, "10")], ["k", "lts"])
    right = spark.createDataFrame(
        [(1, "9", "nine"), (1, "100", "hundred")], ["k", "rts", "v"]
    )
    out = joins.asof_join(left, right, "k", "lts", "rts", ["v"]).collect()
    assert len(out) == 1 and out[0]["v"] == "nine"


def test_salted_join_matches_plain_join(spark):
    """Salted fact⋈dim must be row-identical to the plain join, including
    duplicate fact keys and an unmatched dim row under inner semantics."""
    fact = spark.createDataFrame(
        [("hot", i * 1.0) for i in range(50)] + [("cold", -1.0)],
        ["k", "v"],
    )
    dim = spark.createDataFrame(
        [("hot", "H"), ("cold", "C"), ("unused", "U")], ["k", "label"]
    )
    plain = sorted((r["k"], r["v"], r["label"]) for r in fact.join(dim, "k").collect())
    salted = sorted(
        (r["k"], r["v"], r["label"])
        for r in joins.salted_join(fact, dim, "k", n_salts=4).collect()
    )
    assert salted == plain and len(salted) == 51


def test_salted_join_rejects_outer_modes(spark):
    """right/full outer would surface each unmatched dim row once per salt —
    salted_join must refuse those modes instead of returning duplicates."""
    fact = spark.createDataFrame([("a", 1.0)], ["k", "v"])
    dim = spark.createDataFrame([("a", "A"), ("b", "B")], ["k", "label"])
    for bad in ("right", "full", "full_outer", "right_outer"):
        try:
            joins.salted_join(fact, dim, "k", n_salts=4, how=bad)
            raise AssertionError(f"how={bad!r} should have been rejected")
        except ValueError:
            pass
    # left stays allowed and row-identical to the plain left join
    plain = sorted(
        (r["k"], r["v"], r["label"])
        for r in fact.join(dim, "k", "left").collect()
    )
    salted = sorted(
        (r["k"], r["v"], r["label"])
        for r in joins.salted_join(fact, dim, "k", n_salts=4, how="left").collect()
    )
    assert salted == plain


def test_validity_join_pit_lookup(spark):
    """Point-in-time join: facts pick the dimension version covering their
    timestamp; before-first-version and in-gap facts get NULLs."""
    from worlddatapipeline_spark.operators.joins import validity_join

    dim = spark.createDataFrame(
        [
            (1, "bronze", 10, 20),
            (1, "silver", 20, 40),
            (1, "gold", 40, None),
            (2, "only", 5, 8),      # gapped history: ends at 8
        ],
        "k int, tier string, valid_from int, valid_to int",
    )
    facts = spark.createDataFrame(
        [(1, 10), (1, 19), (1, 20), (1, 39), (1, 40), (1, 99), (1, 5), (2, 6), (2, 9)],
        "k int, ts int",
    )
    out = {(r["k"], r["ts"]): r["tier"] for r in
           validity_join(facts, dim, "k", "ts", ["tier"]).collect()}
    assert out[(1, 10)] == "bronze"     # inclusive start
    assert out[(1, 19)] == "bronze"
    assert out[(1, 20)] == "silver"     # exclusive end / next version start
    assert out[(1, 39)] == "silver"
    assert out[(1, 40)] == "gold"
    assert out[(1, 99)] == "gold"       # open interval
    assert out[(1, 5)] is None          # before first version
    assert out[(2, 6)] == "only"
    assert out[(2, 9)] is None          # in the gap after valid_to


def test_validity_join_zero_width_version_dropped(spark):
    """A zero-width version ([t, t) — two changes at one quantized
    timestamp) covers nothing: facts at t must get the superseding
    version, regardless of which tied row a window would have picked."""
    from worlddatapipeline_spark.operators.joins import validity_join

    dim = spark.createDataFrame(
        [
            (1, "old", 10, 20),
            (1, "flash", 20, 20),   # zero-width: superseded same-instant
            (1, "new", 20, None),
        ],
        "k int, tier string, valid_from int, valid_to int",
    )
    facts = spark.createDataFrame([(1, 20), (1, 25), (1, 15)], "k int, ts int")
    out = {(r["k"], r["ts"]): r["tier"] for r in
           validity_join(facts, dim, "k", "ts", ["tier"]).collect()}
    assert out[(1, 20)] == "new"
    assert out[(1, 25)] == "new"
    assert out[(1, 15)] == "old"


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_tolerance_matches_merge_asof(spark, direction):
    """Tolerance gate == pandas merge_asof(tolerance=...): matches farther
    than the bound become NULL, matches at exactly the bound survive."""
    left = spark.createDataFrame(
        [("a", 5.0, 1), ("a", 10.0, 2), ("a", 0.5, 3), ("b", 7.0, 4)],
        ["k", "t", "lid"],
    )
    right = spark.createDataFrame(
        [("a", 1.0, 100), ("a", 5.0, 200), ("a", 9.0, 300), ("b", 1.0, 400)],
        ["k", "rt", "val"],
    )
    out = (
        joins.asof_join(
            left, right, on="k", left_ts="t", right_ts="rt",
            value_cols=["val"], direction=direction, tolerance=2.0,
        )
        .toPandas().sort_values("lid").reset_index(drop=True)
    )
    lp = pd.DataFrame(
        {"k": ["a", "a", "a", "b"], "t": [5.0, 10.0, 0.5, 7.0], "lid": [1, 2, 3, 4]}
    ).sort_values("t")
    rp = pd.DataFrame(
        {"k": ["a", "a", "a", "b"], "rt": [1.0, 5.0, 9.0, 1.0],
         "val": [100, 200, 300, 400]}
    ).sort_values("rt")
    exp = (
        pd.merge_asof(
            lp, rp, left_on="t", right_on="rt", by="k",
            direction=direction, tolerance=2.0,
        )
        .sort_values("lid").reset_index(drop=True)
    )
    assert list(out["val"].fillna(-1)) == list(exp["val"].fillna(-1))


def test_asof_tolerance_timestamp_axis_in_seconds(spark):
    """On a datetime axis the tolerance is seconds; an exactly-at-bound
    match is inclusive (merge_asof semantics)."""
    left = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00"), (2, "2024-01-01 02:00:00")],
        "lid int, t string",
    ).select("lid", F.col("t").cast("timestamp").alias("t"), F.lit("k").alias("k"))
    right = spark.createDataFrame(
        [("2024-01-01 00:00:00", 7)], "rt string, val int"
    ).select(F.col("rt").cast("timestamp").alias("rt"), "val", F.lit("k").alias("k"))
    out = {
        r["lid"]: r["val"]
        for r in joins.asof_join(
            left, right, on="k", left_ts="t", right_ts="rt",
            value_cols=["val"], tolerance=600.0,
        ).collect()
    }
    assert out[1] == 7      # exactly 600 s back — inclusive
    assert out[2] is None   # 2 h back — beyond tolerance


def test_asof_tolerance_nearest_null_value_stays_null(spark):
    """The tolerance gate is ATOMIC with the match: when the nearest right
    row's value is NULL, the result is NULL (merge_asof), never an older
    non-null value sneaking past a gate measured on the nearer row."""
    left = spark.createDataFrame([("k", 5000.0, 1)], ["k", "t", "lid"])
    right = spark.createDataFrame(
        [("k", 100.0, "A"), ("k", 4000.0, None)], ["k", "rt", "val"]
    )
    out = joins.asof_join(
        left, right, on="k", left_ts="t", right_ts="rt",
        value_cols=["val"], tolerance=1800.0,
    ).collect()
    assert out[0]["val"] is None
    # and with a wide tolerance the nearest (NULL-valued) row still wins
    out = joins.asof_join(
        left, right, on="k", left_ts="t", right_ts="rt",
        value_cols=["val"], tolerance=10000.0,
    ).collect()
    assert out[0]["val"] is None
    # NULL right timestamps are dropped, not sorted into the fill
    right2 = spark.createDataFrame(
        [("k", None, "X"), ("k", 4500.0, "B")], ["k", "rt", "val"]
    )
    out = joins.asof_join(
        left, right2, on="k", left_ts="t", right_ts="rt",
        value_cols=["val"], tolerance=1800.0,
    ).collect()
    assert out[0]["val"] == "B"
