"""Reference angle unwrap, kept as a differential-test oracle.

The engine unwraps angles in closed form with window functions
(``operators/windows.py::unwrap_angle``).  The numpy ``np.unwrap`` scan
below, run through the engine's own ``stateful._sorted_scan``, is the
independent formulation it is pinned against
(``tests/test_stateful.py::test_unwrap_pandas_matches_window_form``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from worlddatapipeline_spark.operators.stateful import _sorted_scan


def unwrap_pandas(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    angle_col: str,
    out_col: str = "unwrapped",
) -> DataFrame:
    """numpy unwrap per sequence (degrees) — reference
    `transform_track.py:133-155`."""

    def run(pdf: pd.DataFrame, state: object) -> tuple[np.ndarray, object]:
        a = pdf[angle_col].to_numpy(dtype=np.float64)
        if len(a) == 0:
            return a, state
        if state is None:
            out = np.degrees(np.unwrap(np.radians(a)))
        else:
            # seed with the previous unwrapped value so continuity holds
            # across the batch boundary, then drop the seed
            out = np.degrees(np.unwrap(np.radians(np.concatenate(([state], a)))))[1:]
        return out, float(out[-1])

    return _sorted_scan(df, seq_col, order_col, out_col, run)
