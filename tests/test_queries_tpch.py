"""Semantic unit tests for the TPC-H-shaped query batch (queries_tpch.py)."""

from pyspark.sql import functions as F

from worlddatapipeline_spark.operators.aggregates import salted_sum
from worlddatapipeline_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_salted_sum_matches_plain_groupby(spark):
    df = spark.createDataFrame(
        [("a", 1.5), ("a", 2.5), ("b", 10.0), ("a", -1.0), ("c", 0.0)],
        "k string, v double",
    )
    got = {
        r["k"]: r["total"]
        for r in salted_sum(df, ["k"], "v", "total", n_salts=4).collect()
    }
    assert got == {"a": 3.0, "b": 10.0, "c": 0.0}


def test_event_percentiles_ordered(spark):
    rows = QUERIES["event_value_percentiles"](spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["p50"] <= r["p95"] <= r["p99"]
        assert r["n_events"] > 0


def test_top_supplier_revenue_is_max(spark):
    rows = QUERIES["top_supplier_revenue"](spark, SF).collect()
    assert len(rows) >= 1
    # every returned supplier carries the same (maximal) revenue
    assert len({r["total_revenue"] for r in rows}) == 1


def test_large_order_threshold_respected(spark):
    rows = QUERIES["large_order_customers"](spark, SF).collect()
    assert all(r["total_qty"] > 300 for r in rows)


def test_returned_top_customers_sorted_desc(spark):
    rows = QUERIES["returned_top_customers"](spark, SF).collect()
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert len(rows) <= 20


def test_idle_high_balance_customers_runs(spark):
    rows = QUERIES["idle_high_balance_customers"](spark, SF).collect()
    assert all(r["n_customers"] > 0 for r in rows)


def test_event_value_percentiles_router_branches_identical(spark, monkeypatch):
    """The r12 size-routed percentile query must return IDENTICAL rows
    from both physical plans: the exact holistic ``percentile`` (rows
    under SPARK_GRAFT_PCT_DIST_MIN) and the distributed rank form (above
    it) — bit-equal doubles, not approximately equal."""
    from worlddatapipeline_spark.queries_tpch import q_event_value_percentiles

    monkeypatch.setenv("SPARK_GRAFT_PCT_DIST_MIN", "1000000000")
    exact = sorted(tuple(r) for r in q_event_value_percentiles(spark, SF).collect())
    monkeypatch.setenv("SPARK_GRAFT_PCT_DIST_MIN", "0")
    routed_df = q_event_value_percentiles(spark, SF)
    routed = sorted(tuple(r) for r in routed_df.collect())
    assert exact == routed
    # the router really switched plans: the distributed branch has no
    # holistic percentile aggregate
    plan = routed_df._jdf.queryExecution().executedPlan().toString()
    assert "percentile" not in plan.lower()


def test_route_by_rows_switches_at_the_knob(monkeypatch):
    """The size routers' one convention: the scale path from exactly
    ``$knob`` rows up, the reference plan below; an unset knob uses the
    default."""
    from worlddatapipeline_spark.session import parquet_num_rows, route_by_rows

    n = parquet_num_rows(SF, "events")
    knob = "SPARK_GRAFT_ROUTE_TEST_MIN"
    monkeypatch.setenv(knob, str(n))
    assert route_by_rows(SF, "events", knob, n + 1)
    monkeypatch.setenv(knob, str(n + 1))
    assert not route_by_rows(SF, "events", knob, 0)
    monkeypatch.delenv(knob)
    assert route_by_rows(SF, "events", knob, n)
    assert not route_by_rows(SF, "events", knob, n + 1)


def test_exact_percentiles_distributed_matches_percentile_bitwise(spark):
    """The distributed operator must replay F.percentile bit-for-bit on
    adversarial doubles: duplicates, skewed counts, tiny groups, and the
    lo == hi integer-position edge."""
    import numpy as np

    from worlddatapipeline_spark.operators.aggregates import (
        exact_percentiles_distributed,
    )

    rng = np.random.RandomState(88)
    rows = []
    for gi, n in enumerate([1, 2, 3, 17, 500, 101]):
        vals = np.round(rng.uniform(-100, 100, size=n), 2)
        if n > 10:  # force heavy duplication in some groups
            vals = np.round(vals / 10) * 10
        rows += [(f"g{gi}", float(v)) for v in vals]
    df = spark.createDataFrame(rows, "g string, v double")
    ps = [0.01, 0.125, 0.5, 0.95, 0.99]
    ref = {
        r["g"]: list(r["ref"])
        for r in df.groupBy("g")
        .agg(F.percentile("v", F.array(*[F.lit(p) for p in ps])).alias("ref"))
        .collect()
    }
    got: dict = {}
    for r in exact_percentiles_distributed(df, "v", ps, ["g"]).collect():
        got.setdefault(r["g"], {})[r["p"]] = r["pct"]
    for g, expected in ref.items():
        for p, e in zip(ps, expected):
            assert got[g][p] == e, (g, p, got[g][p], e)


def test_exact_percentiles_distributed_null_group_key(spark):
    """A NULL group key is a group of its own for F.percentile; the
    distributed form must return the same percentiles for it."""
    from worlddatapipeline_spark.operators.aggregates import (
        exact_percentiles_distributed,
    )

    rows = [(None, float(v)) for v in (3, 1, 4, 1, 5, 9, 2, 6)] + [
        ("a", float(v)) for v in (2, 7, 1, 8, 2, 8)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    ps = [0.1, 0.5, 0.95]
    ref = {
        r["g"]: list(r["ref"])
        for r in df.groupBy("g")
        .agg(F.percentile("v", F.array(*[F.lit(p) for p in ps])).alias("ref"))
        .collect()
    }
    got: dict = {}
    for r in exact_percentiles_distributed(df, "v", ps, ["g"]).collect():
        got.setdefault(r["g"], {})[r["p"]] = r["pct"]
    assert set(got) == {None, "a"}
    for g, expected in ref.items():
        assert [got[g][p] for p in ps] == expected, g
