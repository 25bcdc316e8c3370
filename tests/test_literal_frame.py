"""``session.literal_frame`` is the engine's one way to turn driver-side
values into a frame.  It must return what ``createDataFrame`` over the same
Python list returns — the same values, bit for bit, and the same schema —
while planning as a JVM ``LocalTableScan`` instead of a Python-RDD scan."""

import datetime as dt
import os
import time
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from worlddatapipeline_spark.session import literal_frame

SF = "/root/testdata/sf0.001"


def _plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _assert_same_as_list_path(spark, rows, schema):
    got = literal_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert got.schema.simpleString() == ref.schema.simpleString()
    # repr keeps what == hides: NaN, the sign of -0.0, Decimal scale
    assert [repr(r) for r in got.collect()] == [repr(r) for r in ref.collect()]
    plan = _plan(got)
    assert "LocalTableScan" in plan
    assert "applySchemaToPythonRDD" not in plan
    return got


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([], "a bigint, b string, c array<double>"),
        (
            [(1, [1.5, float("nan"), -0.0]), (2, None), (3, []), (4, [None])],
            "id int, v array<double>",
        ),
        (
            [(Decimal("1.23"),), (Decimal("-0.05"),), (None,)],
            "d decimal(10,2)",
        ),
        ([(dt.date(2024, 1, 5),), (dt.date(1969, 12, 31),), (None,)], "d date"),
        (
            [(None, None, None, None, None), ("x", 1, 2.5, True, "y")],
            "s string, n bigint, x double, b boolean, t string",
        ),
        (
            [(float("nan"),), (-0.0,), (0.0,), (float("inf"),), (-1e308,)],
            "x double",
        ),
    ],
    ids=["empty", "array_double", "decimal", "date", "nulls", "nan_negzero"],
)
def test_literal_frame_matches_list_path(spark, rows, schema):
    _assert_same_as_list_path(spark, rows, schema)


def test_literal_frame_takes_collected_rows(spark):
    rows = (
        spark.range(5)
        .select(
            F.col("id"),
            F.when(F.col("id") % 2 == 0, F.col("id").cast("string")).alias("s"),
            (F.col("id") / 3).alias("x"),
        )
        .collect()
    )
    _assert_same_as_list_path(spark, rows, "id bigint, s string, x double")


def test_literal_frame_naive_datetime_under_non_utc_process_tz(spark):
    """A naive ``datetime`` is read in the Python process's local zone on
    the list path; the helper must land on the same instant, not read it
    as UTC (12:00 would come back shifted)."""
    rows = [
        (dt.datetime(2024, 3, 1, 12, 0),),
        (dt.datetime(2024, 7, 1, 12, 0, 0, 7),),
        (None,),
    ]
    saved = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        got = _assert_same_as_list_path(spark, rows, "t timestamp")
        ref = spark.createDataFrame(rows, "t timestamp")
        micros = [r[0] for r in got.select(F.unix_micros("t")).collect()]
        assert micros == [r[0] for r in ref.select(F.unix_micros("t")).collect()]
        # 12:00 New York (EST, UTC-5) is 17:00 UTC
        assert micros[0] == int(
            dt.datetime(2024, 3, 1, 17, 0, tzinfo=dt.timezone.utc).timestamp()
        ) * 1_000_000
    finally:
        if saved is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = saved
        time.tzset()


def test_literal_frame_rejects_a_row_of_the_wrong_width(spark):
    with pytest.raises(ValueError):
        literal_frame(spark, [(1, "a"), (2,)], "n bigint, s string")
    with pytest.raises(ValueError):
        literal_frame(spark, [(1, "a", 3)], "n bigint, s string")


def test_struct_type_schema_through_routed_percentiles(spark, monkeypatch):
    """``exact_percentiles_distributed`` builds its offset and rank frames
    from ``StructType`` schemas; with the router forced onto it its plan
    holds local tables only (its rows are pinned against the reference
    branch by ``test_event_value_percentiles_router_branches_identical``)."""
    from worlddatapipeline_spark.queries_tpch import q_event_value_percentiles

    monkeypatch.setenv("SPARK_GRAFT_PCT_DIST_MIN", "0")
    routed = q_event_value_percentiles(spark, SF)
    plan = _plan(routed)
    assert plan.count("LocalTableScan") >= 2
    assert "applySchemaToPythonRDD" not in plan
    assert routed.count() > 0
