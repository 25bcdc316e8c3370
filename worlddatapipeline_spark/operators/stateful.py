"""Stateful sequential scans (SURVEY.md §2.5, §4.1).

These are the operators whose output at step *i* depends on the *output* at
step *i-1* — not expressible as fixed-frame window functions.  They run as a
single Arrow-batched ``mapInPandas`` pass over data repartitioned by sequence
key and sorted within partitions: parallelism is ACROSS sequences, never
within one.  At 100 TB this is the right decomposition — a sequence is a few
thousand frames (KBs), while sequences number in the millions.

Physical shape (one shuffle, no per-group Python dispatch):

    repartition(seq) -> sortWithinPartitions(seq, order)   # JVM sort, codegen
    -> mapInPandas(scan)                                   # ONE python call
                                                           # per Arrow batch

``applyInPandas(groupBy(seq))`` would invoke the Python function once per
group — measured ~2x slower at 1,500 groups/100k rows because each call pays
pandas slicing + DataFrame assembly.  The mapInPandas scan walks group *runs*
inside each batch with numpy boundary detection and carries the scan state
across batch boundaries (a group can straddle Arrow batches; order within a
partition is guaranteed by the sort).

Covered:
- rate limiter (yaw): `transform_track.py:215-228`,
- rate limiter with range clamp (pitch): `transform_track.py:233-262`,
- rate-limited approach toward a target: `behavior_executor.py:122-195`.

The numpy angle unwrap of `transform_track.py:133-155` is closed-form in
windows.py (``unwrap_angle``); its scan form is the test oracle
``tests/ref_stateful.py::unwrap_pandas``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def _wrap(d: np.ndarray) -> np.ndarray:
    """Shortest angular delta in [-180, 180).

    Floor form (same as windows.wrap_delta), NOT np.round: half-to-even
    rounding makes the half case inconsistent (wrap(180)=180 but
    wrap(540)=-180) and disagrees with SQL engines' round-half-away — the
    floor form is deterministic and engine-identical."""
    return d - 360.0 * np.floor(d / 360.0 + 0.5)


def _wrap_scalar(d: float) -> float:
    import math

    return d - 360.0 * math.floor(d / 360.0 + 0.5)


def rate_limit_series(
    values: np.ndarray,
    max_step: float,
    lo: float | None = None,
    hi: float | None = None,
    prev: float | None = None,
) -> tuple[np.ndarray, float | None]:
    """Sequential clamp: each output moves from the PREVIOUS OUTPUT toward the
    input by at most ``max_step``, optionally range-clamped into [lo, hi].

    ``prev`` carries the scan state across Arrow-batch boundaries; ``None``
    means this is the start of a sequence (the first value seeds the scan,
    clamped but not rate-limited — `transform_track.py:216-218`).

    Reference analog: `transform_track.py:215-262`.  O(n) python loop per
    sequence — fine, sequences are short; the scan is irreducibly sequential.
    Returns (outputs, final_state).
    """
    out = np.empty(len(values), dtype=np.float64)
    if len(values) == 0:
        return out, prev
    start = 0
    if prev is None:
        prev = float(values[0])
        if lo is not None:
            prev = max(lo, min(hi, prev))
        out[0] = prev
        start = 1
    for i in range(start, len(values)):
        target = float(values[i])
        delta = target - prev
        if delta > max_step:
            delta = max_step
        elif delta < -max_step:
            delta = -max_step
        cur = prev + delta
        if lo is not None:
            cur = max(lo, min(hi, cur))
        out[i] = cur
        prev = cur
    return out, prev


def _sorted_scan(
    df: DataFrame,
    seq_col: str,
    order_col: str | list[str],
    out_col: str,
    scan_run: Callable[[pd.DataFrame, object], tuple[np.ndarray, object]],
) -> DataFrame:
    """Run a sequential per-sequence scan as one mapInPandas pass.

    ``scan_run(run_pdf, state)`` processes one contiguous run of a single
    sequence (state is ``None`` at the start of each sequence) and returns
    (output array, new state).  Runs are detected with numpy on the
    partition-sorted data, so Python-level work is proportional to the number
    of runs per batch, not rows.
    """
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{fields}, {out_col} double"

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_key: object = None
        state: object = None
        started = False
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            keys = pdf[seq_col].to_numpy()
            # boundaries of group runs within this (sorted) batch
            change = np.nonzero(keys[1:] != keys[:-1])[0] + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [n]))
            out = np.empty(n, dtype=np.float64)
            for s, e in zip(starts, ends):
                k = keys[s]
                if not started or k != cur_key:
                    state = None
                    cur_key = k
                    started = True
                out[s:e], state = scan_run(pdf.iloc[s:e], state)
            res = pdf.copy(deep=False)
            res[out_col] = out
            yield res

    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(parts, seq_col)
        .sortWithinPartitions(seq_col, *order_cols)
        .mapInPandas(scan, schema=schema)
    )


def rate_limit(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    value_col: str,
    max_rate: float,
    dt: float,
    lo: float | None = None,
    hi: float | None = None,
    out_col: str = "limited",
) -> DataFrame:
    """Per-sequence rate limiter as a partition-sorted mapInPandas scan.

    ``max_step = max_rate * dt`` per frame, matching
    `transform_track.py:218-221` (yaw) and `:245-251` (pitch with clamp).
    """
    max_step = max_rate * dt

    def run(pdf: pd.DataFrame, state: object) -> tuple[np.ndarray, object]:
        return rate_limit_series(
            pdf[value_col].to_numpy(dtype=np.float64), max_step, lo, hi,
            prev=state,  # type: ignore[arg-type]
        )

    return _sorted_scan(df, seq_col, order_col, out_col, run)


def approach_target(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    target_col: str,
    max_rate: float,
    fps: float,
    start_col: str | None = None,
    out_col: str = "yaw",
) -> DataFrame:
    """Per-frame move ≤ max_rate/fps toward a (possibly changing) target along
    the shortest arc — reference `behavior_executor.py:122-195`."""
    step = max_rate / fps

    def run(pdf: pd.DataFrame, state: object) -> tuple[np.ndarray, object]:
        tgt = pdf[target_col].to_numpy(dtype=np.float64)
        out = np.empty_like(tgt)
        if state is None:
            cur = float(pdf[start_col].iloc[0]) if start_col else float(tgt[0])
        else:
            cur = float(state)  # type: ignore[arg-type]
        for i in range(len(tgt)):
            d = _wrap_scalar(tgt[i] - cur)
            d = max(-step, min(step, d))
            cur = cur + d
            out[i] = cur
        return out, cur

    return _sorted_scan(df, seq_col, order_col, out_col, run)


def ewma_series(
    values: np.ndarray, alpha: float, prev: float | None = None
) -> tuple[np.ndarray, float | None]:
    """Sequential EWMA recurrence y_t = (1-a)*y_{t-1} + a*x_t, y_0 = x_0.

    Deliberately the NAIVE per-row loop (same discipline as
    rate_limit_series): the op order is then identical to any SQL
    recursive-CTE restatement, so the doubles match an oracle engine
    bit-for-bit.  The block-vectorized closed form
    y_t = (1-a)^t*y_0 + a*sum (1-a)^(t-i)*x_i is ~1 ulp off the
    recurrence, and because decimal-quantized inputs with a dyadic alpha
    land EXACTLY on round-half boundaries, that ulp flips rounded outputs
    between engines (measured: 2-3 rows per 10k at round(6)).  Flip to
    the closed form only when no cross-engine replay is required."""
    out = np.empty(len(values), dtype=np.float64)
    if len(values) == 0:
        return out, prev
    beta = 1.0 - alpha
    start = 0
    if prev is None:
        prev = float(values[0])
        out[0] = prev
        start = 1
    for i in range(start, len(values)):
        prev = beta * prev + alpha * float(values[i])
        out[i] = prev
    return out, prev


def ewma(
    df: DataFrame,
    seq_col: str,
    order_col: str | list[str],
    value_col: str,
    alpha: float = 0.25,
    out_col: str = "ewma",
) -> DataFrame:
    """Per-sequence exponential moving average — a partition-sorted
    mapInPandas scan like the rate limiter: output depends on previous
    OUTPUT, so it is not a window frame.  Prefer alpha values exact in
    binary floating point (0.25, 0.5, 0.75) when cross-engine
    reproducibility matters, and pass a COMPOSITE order_col (e.g.
    ["t_us", "event_id"]) whenever the primary axis can tie — on ties
    the smoothing order is otherwise partitioning-dependent and the
    unrounded cross-engine contract breaks."""

    def run(pdf: pd.DataFrame, state: object) -> tuple[np.ndarray, object]:
        return ewma_series(
            pdf[value_col].to_numpy(dtype=np.float64), alpha,
            prev=state,  # type: ignore[arg-type]
        )

    return _sorted_scan(df, seq_col, order_col, out_col, run)
