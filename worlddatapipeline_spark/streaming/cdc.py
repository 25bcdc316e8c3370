"""Streaming CDC ingestion: foreachBatch merge of a change stream into a
persistently-versioned snapshot, with tombstoned deletes.

The batch-side ``operators/reconcile.py::cdc_apply`` is a ONE-SHOT apply: the
snapshot always loses to any change, which is only correct when the whole
log arrives at once.  A stream delivers the log in micro-batches in no
guaranteed order (file-source listing order, replayed partitions, backfill),
so the state merge here is an associative-commutative monoid instead:

- state rows carry their deciding sequence; per key the MAX-sequence row
  wins (original snapshot rows carry NULL sequence and lose to any change);
- deletes are retained as TOMBSTONES in the state — a late-arriving update
  with an older sequence must still lose to an already-applied delete;
- the published table is the state minus tombstones.

max() is associative and commutative, so ANY partition of the change log
into micro-batches, applied in ANY order, converges to the same state —
the property the pytest suite asserts with randomized splits.  This is the
engine-level form of a streaming `MERGE INTO` fed by a CDC feed (Delta CDF /
Kafka compacted topic semantics: last write by sequence wins, deletes
tombstone), per the reference's incremental-catalog charter
(`scene_registry.py:224-239` upsert + delete refresh, lifted to streams).

Scale: each micro-batch costs one window shuffle keyed by the entity over
(state ∪ batch).  State stays snapshot-sized (one row per live key + one
per tombstone); tombstones are GC'd by an age predicate once the source's
max replay lag has passed, exactly like compacted-topic retention.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.reconcile import (
    _commit_pointer,
    _table_current_version,
    read_parquet_table,
)


def cdc_state_merge(
    state: DataFrame,
    batch: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    upsert_ops: tuple[str, ...] = ("I", "U"),
    delete_op: str = "D",
) -> DataFrame:
    """One monoid step: per key keep the max-sequence row across
    state ∪ batch, tombstones included.  ``state`` and ``batch`` share a
    schema (keys…, payload…, op, seqs…); seed the state from a plain
    snapshot by adding ``op = upsert_ops[0]`` and NULL sequence columns.
    Unrecognized ops are filtered like the batch operator."""
    known = [*upsert_ops, delete_op]
    # malformed change rows are excluded BEFORE the race: an unknown op must
    # not win as an implicit upsert, and a NULL sequence has no position in
    # the log — it would tie with the NULL-seq seed row and make the winner
    # partition-order-dependent (validate/raise upstream for hard errors)
    seq_ok = None
    for c in seq_cols:
        nn = F.col(c).isNotNull()
        seq_ok = nn if seq_ok is None else seq_ok & nn
    clean = batch.filter(F.col(op_col).isin(known) & seq_ok)
    unioned = state.unionByName(clean)
    order = [F.col(c).desc_nulls_last() for c in seq_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        unioned.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def cdc_publish(
    state: DataFrame, op_col: str = "op", delete_op: str = "D",
    seq_cols: list[str] | None = None,
) -> DataFrame:
    """The queryable table: state minus tombstones (and minus the CDC
    bookkeeping columns)."""
    out = state.filter(F.col(op_col) != delete_op).drop(op_col)
    for c in seq_cols or []:
        out = out.drop(c)
    return out


def cdc_stream_into_dir(
    changes_stream: DataFrame,
    snapshot: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    state_dir: str,
    op_col: str = "op",
    upsert_ops: tuple[str, ...] = ("I", "U"),
    delete_op: str = "D",
):
    """Run a REAL readStream of change rows into a versioned parquet state.

    foreachBatch(state_vN ∪ batch → state_vN+1) with the monoid merge, so
    replays/out-of-order batches converge; each version is written whole
    (tiny at test scale; at 100 TB this binds to the persistent MERGE's
    versioned-dir + pointer commit, or Delta `MERGE INTO`, instead of a
    full rewrite).  Returns the StreamingQuery; the caller awaits it and
    reads ``current_state(spark, state_dir)``.

    RESUME-SAFE: the seed snapshot is only written on first use of
    ``state_dir``.  The streaming checkpoint records which source files
    were already processed, so on a rerun/crash-restart the existing state
    (which already contains those files' changes) MUST survive — reseeding
    would silently drop every previously applied change while the source
    skips the already-consumed files.  To start over, use a fresh
    ``state_dir`` (which holds the checkpoint too).

    Each version directory is written whole, then published by reconcile's
    ``_commit_pointer`` (protocol on ``reconcile._commit_version``), so a
    crash between write and pointer swap leaves the prior version live;
    versions older than the previous are GC'd so a long-running stream
    holds at most two state copies.
    """
    spark = snapshot.sparkSession
    os.makedirs(state_dir, exist_ok=True)
    if _table_current_version(state_dir) is None:
        seed = snapshot.withColumn(op_col, F.lit(upsert_ops[0]))
        for c in seq_cols:
            if c not in seed.columns:
                seed = seed.withColumn(c, F.lit(None))
        # align seq column types with the stream's so the union never widens
        for c in seq_cols:
            seed = seed.withColumn(
                c, F.col(c).cast(changes_stream.schema[c].dataType)
            )
        seed.write.mode("overwrite").parquet(os.path.join(state_dir, "v0"))
        _commit_pointer(state_dir, "v0")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        prev = _table_current_version(state_dir)
        merged = cdc_state_merge(
            read_parquet_table(spark, state_dir), batch_df, key_cols,
            seq_cols, op_col, upsert_ops, delete_op,
        )
        version = f"v{batch_id + 1}_{os.getpid()}"
        merged.write.mode("overwrite").parquet(os.path.join(state_dir, version))
        _commit_pointer(state_dir, version)
        # GC: keep live + previous; drop anything older (bounded disk)
        keep = {version, prev, "_checkpoint"}
        for d in os.listdir(state_dir):
            if d.startswith("v") and d not in keep:
                shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)

    return (
        changes_stream.writeStream.foreachBatch(_apply)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(state_dir, "_checkpoint"))
        .start()
    )


def current_state(spark, state_dir: str) -> DataFrame:
    """Read back the latest committed state version."""
    return read_parquet_table(spark, state_dir)
