"""Monitoring operator tests (batch + streaming forms)."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from worlddatapipeline_spark.catalog import schemas
from worlddatapipeline_spark.streaming import monitor

T0 = datetime(2024, 1, 1, 12, 0, 0)
NOW = T0 + timedelta(minutes=30)


def _status_events(spark):
    rows = [
        ("t1", T0, "rendering", 10, "/o"),
        ("t1", T0 + timedelta(minutes=5), "rendering", 50, "/o"),
        ("t2", T0, "rendering", 5, "/o"),
        ("t2", T0 + timedelta(minutes=29), "rendering", 300, "/o"),
        ("t3", T0, "rendering", 5, "/o"),
        ("t3", T0 + timedelta(minutes=10), "completed", 600, "/o"),
    ]
    return spark.createDataFrame(rows, schemas.TASK_STATUS_EVENTS)


def test_latest_task_status(spark):
    out = {r["task_id"]: r for r in monitor.latest_task_status(_status_events(spark)).collect()}
    assert out["t1"]["status"] == "rendering" and out["t1"]["max_frame_count"] == 50
    assert out["t3"]["status"] == "completed"


def test_stalled_tasks(spark):
    out = monitor.stalled_tasks(_status_events(spark), NOW, stall_seconds=300).collect()
    ids = {r["task_id"] for r in out}
    # t1 idle 25min -> stalled; t2 idle 1min -> fine; t3 completed -> excluded
    assert ids == {"t1"}
    assert out[0]["idle_seconds"] == 25 * 60


def test_expired_workers(spark):
    hb = spark.createDataFrame(
        [
            ("w1", NOW - timedelta(seconds=30)),
            ("w1", NOW - timedelta(seconds=600)),
            ("w2", NOW - timedelta(seconds=90)),
        ],
        schemas.HEARTBEATS,
    )
    out = monitor.expired_workers(hb, NOW, ttl_seconds=60).collect()
    assert [r["worker_id"] for r in out] == ["w2"]
    assert out[0]["age_seconds"] == 90


def test_failure_rate_alerts(spark):
    rows = []
    for i in range(20):
        rows.append(
            (f"t{i}", None, None, "failed" if i < 5 else "completed",
             T0 + timedelta(minutes=i), None, None, None)
        )
    # second window: low failure rate
    for i in range(20, 30):
        rows.append(
            (f"t{i}", None, None, "completed",
             T0 + timedelta(hours=2, minutes=i), None, None, None)
        )
    tasks = spark.createDataFrame(rows, schemas.TASKS)
    out = monitor.failure_rate_alerts(tasks, "1 hour", threshold=0.10).collect()
    assert len(out) == 1
    assert out[0]["n_failed"] == 5 and out[0]["failure_rate"] == pytest.approx(0.25)


def test_status_counts(spark):
    out = {r["status"]: r["n"] for r in monitor.status_counts(_status_events(spark)).collect()}
    assert out == {"rendering": 5, "completed": 1}


def test_streaming_status_counts(spark, tmp_path):
    """End-to-end streaming: file-source JSON stream -> windowed counts via
    availableNow into a memory sink."""
    import json

    p = tmp_path / "status"
    p.mkdir()
    events = [
        {"task_id": "t1", "event_time": "2024-01-01T12:00:00", "status": "rendering",
         "frame_count": 10, "output_directory": "/o"},
        {"task_id": "t1", "event_time": "2024-01-01T12:05:00", "status": "completed",
         "frame_count": 600, "output_directory": "/o"},
        {"task_id": "t2", "event_time": "2024-01-01T12:01:00", "status": "rendering",
         "frame_count": 3, "output_directory": "/o"},
    ]
    (p / "drop1.json").write_text("\n".join(json.dumps(e) for e in events))
    stream = monitor.stream_status_files(
        spark, str(p), schemas.TASK_STATUS_EVENTS, watermark="10 minutes"
    )
    counts = monitor.status_counts(stream)
    views = {t.name for t in spark.catalog.listTables()}
    out = monitor.run_stream_to_memory(counts)
    # the runner drops its sink's view: repeated runs leak no table
    assert {t.name for t in spark.catalog.listTables()} == views
    got = {r["status"]: r["n"] for r in out.collect()}
    assert got == {"rendering": 2, "completed": 1}


def test_frame_progress(spark):
    out = monitor.frame_progress(_status_events(spark), "1 hour").collect()
    per = {r["task_id"]: r["frames_delta"] for r in out}
    assert per["t1"] == 40 and per["t3"] == 595


def test_stateful_stall_detector(spark, tmp_path):
    """applyInPandasWithState with EVENT-TIME timeouts: a task with no events
    before the watermark passes last_event + stall emits stalled=true.
    Deterministic — driven entirely by event time, never wall clock."""
    import json
    import time

    src = tmp_path / "stateful_src"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"

    def run_batch():
        stream = monitor.stream_status_files(
            spark, str(src), schemas.TASK_STATUS_EVENTS, watermark="1 minute"
        )
        q = (
            monitor.stateful_stall_detector(stream, stall_seconds=300)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: t1 renders at 12:00, t2 completes at 12:01
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(e)
            for e in [
                {"task_id": "t1", "event_time": "2024-01-01T12:00:00",
                 "status": "rendering", "frame_count": 10, "output_directory": "/o"},
                {"task_id": "t2", "event_time": "2024-01-01T12:01:00",
                 "status": "completed", "frame_count": 600, "output_directory": "/o"},
            ]
        )
    )
    run_batch()
    # batch 2: a much later event advances the watermark past t1's
    # 12:00 + 300s timeout -> t1's state times out and emits stalled
    (src / "b2.json").write_text(
        json.dumps(
            {"task_id": "t3", "event_time": "2024-01-01T13:00:00",
             "status": "rendering", "frame_count": 1, "output_directory": "/o"}
        )
    )
    run_batch()

    rows = spark.read.parquet(str(out)).collect()
    stalled = {r["task_id"] for r in rows if r["stalled"]}
    assert "t1" in stalled          # timed out
    assert "t2" not in stalled      # completed -> state cleared
    assert "t3" not in stalled      # still fresh


def test_dedup_stream(spark, tmp_path):
    import json

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )
    from worlddatapipeline_spark.streaming.monitor import (
        dedup_stream,
        run_stream_to_memory,
        stream_status_files,
    )

    schema = StructType(
        [
            StructField("task_id", StringType()),
            StructField("event_time", TimestampType()),
            StructField("frame_count", LongType()),
        ]
    )
    drop = tmp_path / "drops"
    drop.mkdir()
    rows = [
        {"task_id": "t1", "event_time": "2024-01-01T00:00:00", "frame_count": 5},
        {"task_id": "t1", "event_time": "2024-01-01T00:00:00", "frame_count": 5},
        {"task_id": "t2", "event_time": "2024-01-01T00:01:00", "frame_count": 9},
    ]
    (drop / "a.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = spark.readStream.schema(schema).json(str(drop))
    deduped = dedup_stream(stream, ["task_id"], watermark="5 minutes")
    out = run_stream_to_memory(deduped, output_mode="append")
    got = out.select("task_id").orderBy("task_id").collect()
    assert [r["task_id"] for r in got] == ["t1", "t2"]


def test_streaming_ewma_matches_batch_scan(spark):
    """Two time-partitioned streaming batches must reproduce the batch
    sorted-scan EWMA exactly (state carries across the batch boundary)."""
    from worlddatapipeline_spark.queries_analytics import (
        q_ewma_event_value,
        q_streaming_ewma_parity,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in q_ewma_event_value(spark, sf).collect()
    }
    stream = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in q_streaming_ewma_parity(spark, sf).collect()
    }
    assert stream == batch


def test_streaming_ewma_tie_at_batch_boundary(spark, tmp_path):
    """A new event sharing its timestamp with the previous batch's last
    event must still smooth (composite (t, id) high-water mark) — a
    t-only mark silently dropped it (ADVICE r3)."""
    import os

    from worlddatapipeline_spark.operators.stateful import ewma_series

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, event_id long, event_us long, value double"
    batch1 = [(1, 1, 100, 10.0), (1, 2, 200, 20.0), (1, 3, 200, 30.0)]
    batch2 = [(1, 4, 200, 40.0), (1, 5, 300, 50.0)]  # id 4 ties t=200

    def run_batch(rows, mode):
        spark.createDataFrame(rows, schema).write.mode(mode).parquet(src)
        q = (
            monitor.streaming_ewma(
                spark.readStream.schema(schema).parquet(src), alpha=0.25
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_batch(batch1, "overwrite")
    run_batch(batch2, "append")
    got = {
        r["event_id"]: r["ewma"] for r in spark.read.parquet(out).collect()
    }
    expected, _ = ewma_series(
        __import__("numpy").array([10.0, 20.0, 30.0, 40.0, 50.0]), 0.25
    )
    assert sorted(got) == [1, 2, 3, 4, 5]
    assert got == {i + 1: expected[i] for i in range(5)}
    assert os.path.isdir(ckpt)


def test_interval_join_streams_cross_batch_state(spark, tmp_path):
    """A purchase arriving one availableNow run AFTER its matching view
    must still pair (out of the buffered join state); a view outside the
    lookback must not."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(minutes):
        return base + dt.timedelta(minutes=minutes)

    psrc, vsrc = str(tmp_path / "p"), str(tmp_path / "v")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    # run 1: two views only (user 1 in-window later, user 2 too old later)
    spark.createDataFrame(
        [(1, ts(0)), (2, ts(0))], "user_id long, v_ts timestamp"
    ).write.parquet(vsrc)
    spark.createDataFrame([], "user_id long, p_ts timestamp, value double").write.parquet(psrc)

    def run_batch():
        p = spark.readStream.schema(
            "user_id long, p_ts timestamp, value double"
        ).parquet(psrc)
        v = spark.readStream.schema("user_id long, v_ts timestamp").parquet(vsrc)
        j = monitor.interval_join_streams(
            p, v, on="user_id", left_ts="p_ts", right_ts="v_ts",
            lookback="1 hour", watermark="2 hours",
        )
        q = (
            j.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_batch()
    # run 2: user 1 purchase 30 min after its view (in lookback, cross-run
    # match); user 2 purchase 90 min after (outside the 1 h lookback)
    spark.createDataFrame(
        [(1, ts(30), 10.0), (2, ts(90), 20.0)],
        "user_id long, p_ts timestamp, value double",
    ).write.mode("append").parquet(psrc)
    run_batch()

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    assert rows[0]["user_id"] == 1 and rows[0]["value"] == 10.0


def test_windowed_agg_forced_kill_mid_stream_resumes(spark, tmp_path):
    """Forced stop/restart MID-STREAM for the watermarked tumbling-window
    pipeline (VERDICT r5 item 6): run 1's foreachBatch is poisoned to crash
    on micro-batch 1, so the query dies with one file committed, one file's
    batch constructed-but-uncommitted, and open windows buffered in the
    state store.  Restarting from the same checkpoint (clean foreachBatch)
    must replay the failed batch exactly once, keep accumulating the open
    windows, and — after a far-future sentinel flushes the watermark —
    emit exactly the batch-oracle windows: no loss, no duplicates."""
    base = datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (i % 3 + 1, base + timedelta(minutes=20 * i), float(i))
        for i in range(12)
    ]
    chunks = [rows[:4], rows[4:8], rows[8:]]
    sentinel = [(99, base + timedelta(days=2), 0.0)]
    schema = "user_id long, ts timestamp, value double"
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_chunk(c):
        spark.createDataFrame(c, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def start(batch_fn):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "3 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("total"),
            )
            .select(F.col("w.start").alias("win_start"), "user_id", "n", "total")
        )
        return (
            agg.writeStream.outputMode("append")
            .foreachBatch(batch_fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    def clean(df, batch_id):
        df.write.mode("append").parquet(out)

    def poisoned(df, batch_id):
        if batch_id >= 1:
            raise RuntimeError("injected mid-stream crash")
        clean(df, batch_id)

    # run 1: two files available, dies on batch 1
    write_chunk(chunks[0])
    write_chunk(chunks[1])
    with pytest.raises(Exception, match="injected mid-stream crash"):
        start(poisoned).awaitTermination()
    # run 2: third chunk arrives; resume replays the failed batch + drains
    write_chunk(chunks[2])
    start(clean).awaitTermination()
    # run 3: the sentinel advances the watermark past every real window
    write_chunk(sentinel)
    start(clean).awaitTermination()

    expected = {
        (r["win_start"], r["user_id"]): (r["n"], r["total"])
        for r in spark.createDataFrame(rows, schema)
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").alias("win_start"), "user_id", "n", "total")
        .collect()
    }
    got_rows = spark.read.parquet(out).collect()
    got = {
        (r["win_start"], r["user_id"]): (r["n"], r["total"]) for r in got_rows
    }
    assert got == expected
    assert len(got_rows) == len(got)  # exactly-once: no duplicate windows


def _forced_kill_harness(spark, tmp_path, build_agg, chunks, sentinel=None,
                         output_mode="append"):
    """Shared forced stop/restart scaffold (VERDICT r6 item 7): run 1's
    foreachBatch crashes on micro-batch 1 (one batch committed, one
    constructed-but-uncommitted, open state buffered), run 2 resumes from
    the same checkpoint with the clean writer and the next chunk, run 3
    (optional) drops a far-future sentinel to flush the watermark.
    Returns the output parquet path."""
    schema = "user_id long, event_id long, ts timestamp, value double, event_type string"
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_chunk(c):
        spark.createDataFrame(c, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def start(batch_fn):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            build_agg(stream)
            .writeStream.outputMode(output_mode)
            .foreachBatch(batch_fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    def clean(df, batch_id):
        df.write.mode("append").parquet(out)

    def poisoned(df, batch_id):
        if batch_id >= 1:
            raise RuntimeError("injected mid-stream crash")
        clean(df, batch_id)

    write_chunk(chunks[0])
    write_chunk(chunks[1])
    with pytest.raises(Exception, match="injected mid-stream crash"):
        start(poisoned).awaitTermination()
    for c in chunks[2:]:
        write_chunk(c)
    start(clean).awaitTermination()
    if sentinel is not None:
        write_chunk(sentinel)
        start(clean).awaitTermination()
    return out


def test_session_window_forced_kill_mid_stream_resumes(spark, tmp_path):
    """Session-window state must survive a forced mid-stream kill: open
    sessions buffered in the state store at crash time keep merging after
    the restart, and the flushed output matches the batch session_window
    oracle exactly — no lost, split, or duplicated session."""
    base = datetime(2024, 1, 1, 0, 0, 0)
    # user 1: one long session crossing the crash boundary (events in
    # chunks 0,1,2 all within the 30-min gap) + a separate later session;
    # user 2: two clean sessions
    rows = [
        (1, 10, base + timedelta(minutes=0), 1.0, "a"),
        (2, 11, base + timedelta(minutes=5), 2.0, "a"),
        (1, 12, base + timedelta(minutes=20), 3.0, "a"),
        (2, 13, base + timedelta(minutes=90), 4.0, "a"),
        (1, 14, base + timedelta(minutes=40), 5.0, "a"),
        (1, 15, base + timedelta(minutes=180), 6.0, "a"),
        (2, 16, base + timedelta(minutes=100), 7.0, "a"),
        (1, 17, base + timedelta(minutes=195), 8.0, "a"),
    ]
    chunks = [rows[:3], rows[3:5], rows[5:]]
    sentinel = [(99, 0, base + timedelta(days=2), 0.0, "z")]

    def build(stream):
        return (
            stream.withWatermark("ts", "3 hours")
            .groupBy(
                F.session_window(F.col("ts"), "30 minutes").alias("w"),
                "user_id",
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .select(
                F.col("w.start").alias("s_start"),
                F.col("w.end").alias("s_end"),
                "user_id",
                "n",
                "total",
            )
        )

    out = _forced_kill_harness(spark, tmp_path, build, chunks, sentinel)
    schema = "user_id long, event_id long, ts timestamp, value double, event_type string"
    expected = {
        (r["s_start"], r["s_end"], r["user_id"]): (r["n"], r["total"])
        for r in spark.createDataFrame(rows, schema)
        .groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "user_id",
            "n",
            "total",
        )
        .collect()
    }
    got_rows = spark.read.parquet(out).collect()
    got = {
        (r["s_start"], r["s_end"], r["user_id"]): (r["n"], r["total"])
        for r in got_rows
    }
    assert got == expected
    assert len(got_rows) == len(got)  # exactly-once


def test_dedup_stream_forced_kill_mid_stream_resumes(spark, tmp_path):
    """dropDuplicatesWithinWatermark state must survive a forced kill: a
    key first seen before the crash and replayed/re-sent after the restart
    must still be emitted exactly once (the checkpointed dedup state, not
    batch-local memory, is what suppresses it)."""
    base = datetime(2024, 1, 1, 0, 0, 0)
    r = lambda u, e, m, v: (u, e, base + timedelta(minutes=m), v, "a")
    chunks = [
        # batch 0: three distinct keys
        [r(1, 100, 0, 1.0), r(1, 101, 1, 2.0), r(2, 100, 2, 3.0)],
        # batch 1 (crashes once, replayed): one dup of batch 0 + one new
        [r(1, 100, 3, 1.0), r(2, 101, 4, 4.0)],
        # batch 2 (post-restart): dups of batch 0 AND batch 1 + one new
        [r(1, 101, 5, 2.0), r(2, 101, 6, 4.0), r(3, 100, 7, 5.0)],
    ]

    def build(stream):
        return monitor.dedup_stream(
            stream, ["user_id", "event_id"], event_time_col="ts",
            watermark="1 hour",
        )

    out = _forced_kill_harness(spark, tmp_path, build, chunks)
    got_rows = spark.read.parquet(out).collect()
    keys = [(x["user_id"], x["event_id"]) for x in got_rows]
    assert sorted(keys) == sorted(set(keys))  # exactly-once per key
    assert set(keys) == {(1, 100), (1, 101), (2, 100), (2, 101), (3, 100)}


def test_trending_topk_forced_kill_mid_stream_resumes(spark, tmp_path):
    """The trending-dashboard shape (watermarked tumbling-window counts per
    event type, top-k ranked over the flushed sink) must survive a forced
    kill: windows open across the crash keep accumulating, and the ranked
    output matches the batch restatement."""
    base = datetime(2024, 1, 1, 0, 0, 0)
    types = ["view", "click", "purchase", "view", "view", "click"]
    rows = [
        (i % 3 + 1, i, base + timedelta(minutes=17 * i), float(i),
         types[i % len(types)])
        for i in range(14)
    ]
    chunks = [rows[:5], rows[5:9], rows[9:]]
    sentinel = [(99, 999, base + timedelta(days=2), 0.0, "z")]

    def build(stream):
        return (
            stream.withWatermark("ts", "3 hours")
            .groupBy(F.window(F.col("ts"), "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
        )

    out = _forced_kill_harness(spark, tmp_path, build, chunks, sentinel)
    from pyspark.sql import Window as W

    wr = W.partitionBy("win_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    got = {
        tuple(r)
        for r in spark.read.parquet(out)
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 3)
        .collect()
    }
    schema = "user_id long, event_id long, ts timestamp, value double, event_type string"
    expected = {
        tuple(r)
        for r in spark.createDataFrame(rows, schema)
        .groupBy(F.window(F.col("ts"), "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 3)
        .collect()
    }
    assert got == expected


def test_ohlc_forced_kill_mid_stream_resumes(spark, tmp_path):
    """OHLC bars must survive a forced kill: open/close are STRUCT-ordered
    min/max aggregates — a state shape none of the other parity tests
    carry (count/sum state merges commutatively; an ordered-struct merge
    that mishandles replay would silently pick the wrong open/close event
    while keeping n/high/low right).  Windows open across the crash keep
    accumulating; after the watermark flush the bars equal the batch
    restatement exactly."""
    base = datetime(2024, 1, 1, 0, 0, 0)
    # values deliberately non-monotonic so open != low and close != high
    vals = [5.0, 9.0, 1.0, 7.0, 3.0, 8.0, 2.0, 6.0, 4.0, 9.5, 0.5, 7.5]
    rows = [
        (i % 3 + 1, i, base + timedelta(minutes=11 * i), vals[i], "t")
        for i in range(12)
    ]
    chunks = [rows[:4], rows[4:8], rows[8:]]
    sentinel = [(99, 999, base + timedelta(days=2), 0.0, "z")]

    def build(stream):
        b = stream.select(
            "ts", "event_id",
            F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias("v_us"),
        )
        return (
            b.withWatermark("ts", "3 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(
                F.min(F.struct("ts", "event_id", "v_us"))["v_us"].alias("open_us"),
                F.max(F.struct("ts", "event_id", "v_us"))["v_us"].alias("close_us"),
                F.max("v_us").alias("high_us"),
                F.min("v_us").alias("low_us"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .select(F.col("w.start").alias("win_start"), "open_us",
                    "close_us", "high_us", "low_us", "n_events")
        )

    out = _forced_kill_harness(spark, tmp_path, build, chunks, sentinel)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    schema = (
        "user_id long, event_id long, ts timestamp, value double, "
        "event_type string"
    )
    batch = spark.createDataFrame(rows, schema).select(
        "ts", "event_id",
        F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias("v_us"),
    )
    expected = {
        tuple(r)
        for r in batch.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.min(F.struct("ts", "event_id", "v_us"))["v_us"].alias("open_us"),
            F.max(F.struct("ts", "event_id", "v_us"))["v_us"].alias("close_us"),
            F.max("v_us").alias("high_us"),
            F.min("v_us").alias("low_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("win_start"), "open_us", "close_us",
                "high_us", "low_us", "n_events")
        .collect()
    }
    assert got == expected
    # the crash replay really did exercise multi-batch windows: at least
    # one bar must aggregate events from more than one micro-batch chunk
    assert any(r[5] > 4 for r in got)


def test_interval_join_forced_kill_mid_stream_resumes(spark, tmp_path):
    """Stream-stream interval-join state must survive a forced kill
    (VERDICT r7 item 7 — the one stateful shape without a restart-parity
    test): the watermarked join buffers BOTH sides in the state store, so
    a crash with views buffered and a purchase's micro-batch constructed-
    but-uncommitted must, on resume from the same checkpoint, replay that
    batch exactly once and keep pairing later purchases against the
    views buffered BEFORE the crash.  Final output equals the batch
    interval join exactly — no lost cross-crash pairs, no replay
    duplicates."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(m):
        return base + dt.timedelta(minutes=m)

    psrc, vsrc = str(tmp_path / "p"), str(tmp_path / "v")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    pschema = "user_id long, p_ts timestamp, value double"
    vschema = "user_id long, v_ts timestamp"
    all_v = [(1, ts(0)), (2, ts(0)), (5, ts(0)), (3, ts(5)), (4, ts(20))]
    all_p = [
        (3, ts(10), 30.0),   # matches the view arriving AFTER it in stream order
        (1, ts(30), 10.0),   # matches a view buffered before the crash
        (2, ts(90), 20.0),   # outside the 1 h lookback — must NOT pair
        (4, ts(45), 40.0),   # matches a view from the crashed micro-batch
        (5, ts(200), 50.0),  # outside lookback
    ]

    def wv(rows):
        spark.createDataFrame(rows, vschema).coalesce(1).write.mode(
            "append"
        ).parquet(vsrc)

    def wp(rows):
        spark.createDataFrame(rows, pschema).coalesce(1).write.mode(
            "append"
        ).parquet(psrc)

    def start(batch_fn):
        p = (
            spark.readStream.schema(pschema)
            .option("maxFilesPerTrigger", 1)
            .parquet(psrc)
        )
        v = (
            spark.readStream.schema(vschema)
            .option("maxFilesPerTrigger", 1)
            .parquet(vsrc)
        )
        j = monitor.interval_join_streams(
            p, v, on="user_id", left_ts="p_ts", right_ts="v_ts",
            lookback="1 hour", watermark="2 hours",
        )
        return (
            j.writeStream.outputMode("append")
            .foreachBatch(batch_fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    def clean(df, batch_id):
        df.write.mode("append").parquet(out)

    def poisoned(df, batch_id):
        if batch_id >= 1:
            raise RuntimeError("injected mid-stream crash")
        clean(df, batch_id)

    # run 1: batch 0 commits (first view file + first purchase file, the
    # u3 purchase buffered unmatched); batch 1 (second view file) crashes
    wv(all_v[:3])
    wp(all_p[:1])
    wv(all_v[3:])
    with pytest.raises(Exception, match="injected mid-stream crash"):
        start(poisoned).awaitTermination()
    # run 2: the remaining purchases arrive; resume must replay the
    # crashed view batch (pairing u3's buffered purchase) and join the
    # new purchases against pre-crash buffered views
    wp(all_p[1:])
    start(clean).awaitTermination()

    got_rows = spark.read.parquet(out).collect()
    got = {(r["user_id"], r["p_ts"], r["value"], r["v_ts"]) for r in got_rows}
    pb = spark.createDataFrame(all_p, pschema)
    vb = spark.createDataFrame(all_v, vschema)
    cond = (
        (pb["user_id"] == vb["user_id"])
        & (vb["v_ts"] <= pb["p_ts"])
        & (vb["v_ts"] >= F.expr("p_ts - interval 1 hour"))
    )
    expected = {
        (r["user_id"], r["p_ts"], r["value"], r["v_ts"])
        for r in pb.join(vb, cond)
        .select(pb["user_id"], "p_ts", "value", "v_ts")
        .collect()
    }
    assert got == expected
    assert len(got_rows) == len(got)  # exactly-once: no replay duplicates
    assert {r["user_id"] for r in got_rows} == {1, 3, 4}


def test_ewma_forced_kill_mid_stream_resumes(spark, tmp_path):
    """EWMA applyInPandasWithState numeric state must survive a forced
    kill (VERDICT r8 item 7 — EWMA was one of two oracle-checked
    pipelines without a restart-parity test): batch 0 commits (state =
    smoothed y + composite (t, id) high-water mark), batch 1 crashes
    constructed-but-uncommitted, and the resume from the same checkpoint
    must replay batch 1 exactly once and keep smoothing batch 2 FROM THE
    PRE-CRASH STATE.  Final per-event ewma equals the batch sorted scan
    bit-for-bit (shared ewma_series kernel)."""
    import numpy as np

    from worlddatapipeline_spark.operators.stateful import ewma_series

    schema = "user_id long, event_id long, event_us long, value double"
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    chunks = [
        [(1, 1, 100, 10.0), (1, 2, 200, 20.0), (2, 1, 100, 5.0)],
        [(1, 3, 300, 30.0), (2, 2, 200, 15.0)],   # crashed micro-batch
        [(1, 4, 300, 40.0), (2, 3, 350, 25.0)],   # id 4 ties t=300 cross-crash
    ]

    def write(c):
        spark.createDataFrame(c, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def start(batch_fn):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            monitor.streaming_ewma(stream, alpha=0.25)
            .writeStream.outputMode("append")
            .foreachBatch(batch_fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    def clean(df, batch_id):
        df.write.mode("append").parquet(out)

    def poisoned(df, batch_id):
        if batch_id >= 1:
            raise RuntimeError("injected mid-stream crash")
        clean(df, batch_id)

    write(chunks[0])
    write(chunks[1])
    with pytest.raises(Exception, match="injected mid-stream crash"):
        start(poisoned).awaitTermination()
    write(chunks[2])
    start(clean).awaitTermination()

    got = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in spark.read.parquet(out).collect()
    }
    per_key = {
        1: [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)],
        2: [(1, 5.0), (2, 15.0), (3, 25.0)],
    }
    expected = {}
    for uid, series in per_key.items():
        vals, _ = ewma_series(
            np.array([v for _, v in series], dtype="float64"), 0.25
        )
        for (eid, _), y in zip(series, vals):
            expected[(uid, eid)] = y
    assert got == expected  # exact, no lost state, no replay duplicates


def test_static_enrichment_forced_kill_mid_stream_resumes(spark, tmp_path):
    """Stream-static join + complete-mode count grid must survive a forced
    kill (VERDICT r8 item 7 — the second pipeline without a restart-parity
    test): the aggregation state store holds batch-0 counts at crash time;
    the resume must replay the crashed micro-batch exactly once (no
    double-counted events) and keep enriching against the static dim.
    The final complete-mode grid equals the batch join+groupBy over all
    chunks."""
    schema = "user_id long, event_id long, ts timestamp, value double, event_type string"
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    t = T0
    chunks = [
        [(1, 1, t, 10.0, "view"), (2, 2, t, 20.0, "purchase")],
        [(1, 3, t, 30.0, "purchase"), (3, 4, t, 40.0, "view")],  # crashes
        [(2, 5, t, 50.0, "view"), (3, 6, t, 60.0, "purchase")],
    ]
    tiers = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2)], "user_id long, tier int"
    )

    def write(c):
        spark.createDataFrame(c, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def build(stream):
        return (
            stream.select("user_id", "event_type", "value")
            .join(tiers, "user_id", "inner")
            .groupBy("tier", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast(
                        "long"
                    )
                ).alias("value_us"),
            )
        )

    def start(batch_fn):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            build(stream)
            .writeStream.outputMode("complete")
            .foreachBatch(batch_fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    def clean(df, batch_id):
        # complete mode: each batch emits the WHOLE grid — keep the latest
        df.write.mode("overwrite").parquet(out)

    def poisoned(df, batch_id):
        if batch_id >= 1:
            raise RuntimeError("injected mid-stream crash")
        clean(df, batch_id)

    write(chunks[0])
    write(chunks[1])
    with pytest.raises(Exception, match="injected mid-stream crash"):
        start(poisoned).awaitTermination()
    write(chunks[2])
    start(clean).awaitTermination()

    got = {
        (r["tier"], r["event_type"]): (r["n_events"], r["value_us"])
        for r in spark.read.parquet(out).collect()
    }
    allrows = spark.createDataFrame(sum(chunks, []), schema)
    expected = {
        (r["tier"], r["event_type"]): (r["n_events"], r["value_us"])
        for r in build(allrows).collect()
    }
    assert got == expected  # exactly-once across the crash, dim intact
