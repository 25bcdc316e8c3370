"""Task/render monitoring (SURVEY.md §2.10) as Structured Streaming + batch
analogs.

The reference monitors rendering with polling loops and a designed-but-
unimplemented Redis queue (`monitor.py:52-249`, `structure.md:199-229`):
status-file watching, frame-progress stall detection (no new frames for
5 min ⇒ stalled, `run_render_job_headless.py:255-325`), worker heartbeat TTL
(60 s, `structure.md:212`), and alert thresholds (queue>1000, failure>10%,
`structure.md:221-229`).

Spark restatement: the task/status stream is a DataFrame source (file source
over `.render_status.json` drops, or a task Delta table); every monitor rule
is a windowed/stateful aggregation.  Each transformation below works on both
batch frames (driver correctness harness) and streaming frames — streaming
adds `withWatermark` for late data, which the reference has no answer to.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def status_counts(status_events: DataFrame) -> DataFrame:
    """Per-status task counts (`stats:*` counters, `structure.md:213-216`)."""
    return status_events.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


def latest_task_status(status_events: DataFrame) -> DataFrame:
    """Last known status per task (batch form: max_by event_time) —
    the status-file state merge of `monitor.py:117-174`."""
    return status_events.groupBy("task_id").agg(
        F.max("event_time").alias("last_event_time"),
        F.max_by("status", "event_time").alias("status"),
        F.max("frame_count").alias("max_frame_count"),
    )


def stalled_tasks(
    status_events: DataFrame,
    now_ts,
    stall_seconds: int = 300,
) -> DataFrame:
    """Tasks still 'rendering' whose last progress event is older than the
    stall cutoff (`run_render_job_headless.py:255-325`: 60 checks × 5 s)."""
    last = latest_task_status(status_events)
    age = F.unix_timestamp(F.lit(now_ts)) - F.unix_timestamp("last_event_time")
    return (
        last.filter(F.col("status") == "rendering")
        .withColumn("idle_seconds", age)
        .filter(F.col("idle_seconds") > stall_seconds)
        .select("task_id", "last_event_time", "max_frame_count", "idle_seconds")
    )


def expired_workers(
    heartbeats: DataFrame, now_ts, ttl_seconds: int = 60
) -> DataFrame:
    """Workers whose newest heartbeat is older than the TTL
    (`worker:{id}:heartbeat` TTL 60 s, `structure.md:212`)."""
    last = heartbeats.groupBy("worker_id").agg(F.max("beat_time").alias("last_beat"))
    age = F.unix_timestamp(F.lit(now_ts)) - F.unix_timestamp("last_beat")
    return (
        last.withColumn("age_seconds", age)
        .filter(F.col("age_seconds") > ttl_seconds)
        .select("worker_id", "last_beat", "age_seconds")
    )


def failure_rate_alerts(
    tasks: DataFrame,
    window_duration: str = "1 hour",
    threshold: float = 0.10,
) -> DataFrame:
    """Failure-rate-over-window alert (>10%, `structure.md:226`).

    Windows on created_at; rate = failed/total per window.  On a stream, add
    `withWatermark('created_at', …)` upstream and this same expression runs
    incrementally.
    """
    w = F.window("created_at", window_duration)
    per = tasks.groupBy(w.alias("win")).agg(
        F.count(F.lit(1)).alias("n_tasks"),
        F.count(F.when(F.col("status") == "failed", 1)).alias("n_failed"),
    )
    return (
        per.withColumn(
            "failure_rate", F.round(F.col("n_failed") / F.col("n_tasks"), 6)
        )
        .filter(F.col("failure_rate") > threshold)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_tasks",
            "n_failed",
            "failure_rate",
        )
    )


def frame_progress(
    status_events: DataFrame, window_duration: str = "5 minutes"
) -> DataFrame:
    """Frame-count growth per task per time window — the batch/streaming form
    of the frame-progress poll (`monitor.py:88-95,140-149`)."""
    w = F.window("event_time", window_duration)
    return status_events.groupBy(F.col("task_id"), w.alias("win")).agg(
        F.max("frame_count").alias("frames_max"),
        F.min("frame_count").alias("frames_min"),
        (F.max("frame_count") - F.min("frame_count")).alias("frames_delta"),
    )


def stream_status_files(
    spark,
    path: str,
    schema,
    watermark: str = "10 minutes",
) -> DataFrame:
    """File-source stream over status-JSON drops (`monitor.py:52-63` watch
    loop → readStream), watermarked on event_time for late data."""
    return (
        spark.readStream.schema(schema)
        .json(path)
        .withWatermark("event_time", watermark)
    )


def run_stream_to_memory(
    stream_df: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Run a streaming query with availableNow into an in-memory sink and
    return its finished output as a batch frame — the one memory-sink
    runner of the streaming parity queries.

    The sink gets its own unique name.  Its table is drained with an eager
    ``localCheckpoint``, which severs the returned frame from the sink, and
    then the sink's temp view is dropped: without the drop every call
    leaks a driver-memory table holding the full output (bench loops
    re-run queries, so the leak compounds — ADVICE r4).
    """
    spark = stream_df.sparkSession
    sink = "memory_sink_" + uuid.uuid4().hex
    try:
        (
            stream_df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return spark.table(sink).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(sink)


def stateful_stall_detector(
    status_stream: DataFrame,
    stall_seconds: int = 300,
    watermark: str | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: per-task stall detection with
    event-time timeouts via ``applyInPandasWithState``.

    This is the Structured-Streaming restatement of the reference's polling
    stall monitor (`run_render_job_headless.py:255-325`, `monitor.py:166-174`)
    and the designed heartbeat-TTL expiry (`structure.md:212`): per task_id,
    keep (last event time, last status, max frames) in state; when the
    WATERMARK passes last_event_time + stall_seconds with no new events, the
    state times out and a `stalled=true` row is emitted.  Completed tasks
    clear their state.  Event-time timeouts make the behavior deterministic
    and replayable — no wall clock involved (the reference's polling loop is
    pure wall clock).

    State per task is O(1); tasks hash-partition across executors, so 10⁶
    concurrent render tasks are a small state store.
    Output: (task_id, last_status, last_event_time, max_frames, stalled).
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    out_schema = (
        "task_id string, last_status string, last_event_time timestamp, "
        "max_frames long, stalled boolean"
    )
    state_schema = "last_us long, last_status string, max_frames long"

    def fn(key, pdf_iter, state: GroupState):
        task_id = key[0]
        if state.hasTimedOut:
            last_us, last_status, max_frames = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "task_id": task_id,
                        "last_status": last_status,
                        "last_event_time": pd.Timestamp(last_us, unit="us"),
                        "max_frames": max_frames,
                        "stalled": True,
                    }
                ]
            )
            return
        last_us, last_status, max_frames = (
            state.get if state.exists else (0, "", 0)
        )
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values("event_time")
            newest = pdf.iloc[-1]
            us = int(pdf["event_time"].max().value // 1000)
            if us > last_us:
                last_us = us
                last_status = str(newest["status"])
            max_frames = max(max_frames, int(pdf["frame_count"].max()))
        if last_status == "completed":
            state.remove()
        else:
            state.update((last_us, last_status, max_frames))
            state.setTimeoutTimestamp(last_us // 1000 + stall_seconds * 1000)
        yield pd.DataFrame(
            [
                {
                    "task_id": task_id,
                    "last_status": last_status,
                    "last_event_time": pd.Timestamp(last_us, unit="us"),
                    "max_frames": max_frames,
                    "stalled": False,
                }
            ]
        )

    # sources from stream_status_files are already watermarked; only apply
    # one here when the caller asks (Spark disallows redefining a watermark)
    if watermark is not None:
        status_stream = status_stream.withWatermark("event_time", watermark)
    return (
        status_stream
        .groupBy("task_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def dedup_stream(
    stream_df: DataFrame,
    key_cols: list[str],
    event_time_col: str = "event_time",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once key dedup over a stream with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps each key's state only until the
    watermark passes it — the streaming form of the engine's exact-dedup
    operator, and the idempotence guard the reference gets from
    skip-if-exists checks (`scene_copy.py:408-422`): a task event replayed
    by an at-least-once source (file re-drop, queue redelivery) is emitted
    once.  Unbounded ``dropDuplicates`` on a stream would grow state
    forever; the watermark bound is what makes this run indefinitely at
    production rates.
    """
    return stream_df.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def streaming_ewma(
    series_stream: DataFrame,
    alpha: float = 0.25,
    key_col: str = "user_id",
    order_col: str = "event_us",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming EWMA: per-key exponential smoothing whose numeric state
    (last smoothed value, last event time) carries across micro-batches via
    ``applyInPandasWithState`` — the streaming form of the batch sorted-scan
    (operators/stateful.py::ewma), sharing ``ewma_series`` so the arithmetic
    is IDENTICAL to the batch path and a batch oracle can hash-check the
    stream's output.

    Ordering contract: rows are sorted by ``order_col`` WITHIN each
    micro-batch, and batches must be time-partitioned (no key's rows in
    batch N+1 precede its rows in batch N) — the replayable-log layout a
    kappa-architecture ingest provides.  Rows at or before the state's
    high-water mark would silently smooth out of order, so they are
    dropped defensively and the monotonicity breach is the caller's to
    avoid.  The mark is the COMPOSITE (order_col, id_col) of the last
    processed row — a timestamp-only mark would also drop a genuinely
    new event that shares its timestamp with the previous batch's last
    event, diverging from the batch scan (which tie-breaks on id_col).
    State per key is three scalars; keys hash-partition across
    executors."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    from ..operators.stateful import ewma_series  # noqa: PLC0415

    out_schema = f"{key_col} long, {id_col} long, ewma double"
    state_schema = "y double, t long, i long"

    def fn(key, pdf_iter, state: GroupState):
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        if len(rows) == 0:
            return
        # id_col breaks order_col ties so the smoothing order matches the
        # batch scan's composite sort exactly
        rows = rows.sort_values([order_col, id_col], kind="mergesort")
        prev_y, prev_t, prev_i = (
            state.get if state.exists else (None, None, None)
        )
        if prev_t is not None:
            # strictly behind the composite (t, id) mark — a new event
            # sharing the previous batch's last timestamp still smooths
            rows = rows[
                (rows[order_col] > prev_t)
                | ((rows[order_col] == prev_t) & (rows[id_col] > prev_i))
            ]
            if len(rows) == 0:
                return
        out, last = ewma_series(
            rows[value_col].to_numpy(dtype="float64"), alpha, prev=prev_y
        )
        state.update(
            (
                float(last),
                int(rows[order_col].iloc[-1]),
                int(rows[id_col].iloc[-1]),
            )
        )
        yield pd.DataFrame(
            {
                key_col: key[0],
                id_col: rows[id_col].to_numpy(),
                "ewma": out,
            }
        )

    return series_stream.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    each left row pairs with the right rows of the same key whose
    timestamp falls in ``[left_ts - lookback, left_ts]`` — the streaming
    form of the batch range join (operators/joins.py::range_join), and the
    canonical enrich-purchases-with-recent-views shape.

    Both sides carry the SAME watermark so Spark can derive a state
    retention bound from the join's time constraint: right rows are
    evicted once ``right_ts < watermark_left - lookback`` (they can no
    longer match any future left row), left rows once they pass the
    watermark.  Without the time-range condition the state would grow
    unboundedly — that is why ``lookback`` is part of the operator's
    signature, not an optional filter.

    Correctness contract (same as Spark's): results equal the batch join
    as long as each side's disorder stays within ``watermark``.  Feed
    time-split files (oldest first) and the cross-batch pairs — a left
    row arriving batches after its right match — come out of the buffered
    state; q_streaming_interval_join pins exactly that against a DuckDB
    batch oracle.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[on] == rw[on])
        & (rw[right_ts] <= lw[left_ts])
        & (rw[right_ts] >= F.expr(f"{left_ts} - interval {lookback}"))
    )
    return lw.join(rw, cond, "inner").drop(rw[on])
