"""The input-table schema memo behind ``session.load_tables``: a warm read
launches no schema-inference job, and a changed file or inference conf
re-runs inference, so the schema is always the one Spark would infer."""

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from worlddatapipeline_spark import session
from worlddatapipeline_spark.session import load_tables

SF = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def job_ids(spark, fn):
    """(``fn()``, the ids of the Spark jobs it launched), found by job
    group as perfbench's tracer attributes them."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def jobs_launched(spark, fn):
    """(``fn()``, the number of Spark jobs it launched)."""
    out, ids = job_ids(spark, fn)
    return out, len(ids)


@pytest.fixture
def memo(monkeypatch):
    """An empty memo for the test, so its first read is a real miss."""
    fresh = {}
    monkeypatch.setattr(session, "_SCHEMAS", fresh)
    return fresh


def _schemas(spark, sf_dir, names):
    return {n: df.schema.simpleString()
            for n, df in load_tables(spark, sf_dir, names).items()}


def test_memo_schema_equals_inferred_for_every_table(spark, memo):
    first = _schemas(spark, SF, TABLES)
    hit = _schemas(spark, SF, TABLES)
    plain = {
        n: session._normalize_timestamps(
            spark.read.parquet(os.path.join(SF, f"{n}.parquet")), n
        ).schema.simpleString()
        for n in TABLES
    }
    assert len(memo) == len(TABLES)
    assert first == hit == plain


def test_warm_load_launches_no_job(spark, memo):
    _, cold = jobs_launched(spark, lambda: load_tables(spark, SF, ["orders"]))
    tabs, warm = jobs_launched(spark, lambda: load_tables(spark, SF, ["orders"]))
    assert cold >= 1
    assert warm == 0
    assert tabs["orders"].count() == spark.read.parquet(
        os.path.join(SF, "orders.parquet")).count()


def test_rewritten_file_is_reinferred(spark, memo, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_tables(spark, str(tmp_path), ["t"])["t"].columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load_tables(spark, str(tmp_path), ["t"])["t"]
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_nanos_events_ts_is_timestamp_on_miss_and_hit(spark, memo, tmp_path):
    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_000],
                  pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}),
                   str(tmp_path / "events.parquet"), version="2.6")
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type \
        == pa.timestamp("ns")
    miss = load_tables(spark, str(tmp_path), ["events"])["events"]
    hit = load_tables(spark, str(tmp_path), ["events"])["events"]
    for df in (miss, hit):
        assert dict(df.dtypes)["ts"] == "timestamp"
    assert sorted(miss.collect()) == sorted(hit.collect())


def test_binary_as_string_conf_is_in_the_key(spark, memo, tmp_path):
    pq.write_table(pa.table({"blob": pa.array([b"ab", b"cd"], pa.binary())}),
                   str(tmp_path / "blobs.parquet"))
    key = "spark.sql.parquet.binaryAsString"
    try:
        spark.conf.set(key, "false")
        off = load_tables(spark, str(tmp_path), ["blobs"])["blobs"]
        spark.conf.set(key, "true")
        on = load_tables(spark, str(tmp_path), ["blobs"])["blobs"]
    finally:
        spark.conf.unset(key)
    assert dict(off.dtypes)["blob"] == "binary"
    assert dict(on.dtypes)["blob"] == "string"


def test_directory_of_parts_picks_up_added_part(spark, memo, tmp_path):
    d = tmp_path / "parts.parquet"
    d.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), str(d / "part-00000.parquet"))
    assert load_tables(spark, str(tmp_path), ["parts"])["parts"].count() == 2
    pq.write_table(pa.table({"k": [3]}), str(d / "part-00001.parquet"))
    tabs, jobs = jobs_launched(
        spark, lambda: load_tables(spark, str(tmp_path), ["parts"]))
    assert jobs >= 1  # the added part invalidated the entry
    assert sorted(r.k for r in tabs["parts"].collect()) == [1, 2, 3]
    _, warm = jobs_launched(
        spark, lambda: load_tables(spark, str(tmp_path), ["parts"]))
    assert warm == 0
