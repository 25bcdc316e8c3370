"""Reference extrinsic-matrix math, kept as a differential-test oracle.

The engine exports extrinsics as pure Column expressions
(``functions/geometry.py::extrinsic_exprs`` / ``with_extrinsics_expr``).
The batched numpy form below — three elementary rotations multiplied by
``einsum``, then [Rᵀ | −Rᵀ·t] — is the independent formulation they are
pinned against (``tests/test_geometry.py``), and the numpy golden the
single-pose tests check.  ``with_extrinsics`` runs it on Spark as an Arrow
pandas UDF.

Spark's Python workers do not have ``tests/`` on their path, so this
module is pickled by value, not imported by name, when the UDF ships.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from worlddatapipeline_spark.functions.geometry import CM_TO_M

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def rotation_matrices(
    pitch_deg: np.ndarray, yaw_deg: np.ndarray, roll_deg: np.ndarray
) -> np.ndarray:
    """Batched 3×3 rotation matrices, UE convention (Yaw about Z, Pitch about
    Y, Roll about X; applied Yaw→Pitch→Roll) — `camera_exporter.py:253-280`."""
    p = np.radians(pitch_deg)
    y = np.radians(yaw_deg)
    r = np.radians(roll_deg)
    cp, sp = np.cos(p), np.sin(p)
    cy, sy = np.cos(y), np.sin(y)
    cr, sr = np.cos(r), np.sin(r)
    n = len(p)
    rz = np.zeros((n, 3, 3))
    rz[:, 0, 0], rz[:, 0, 1] = cy, -sy
    rz[:, 1, 0], rz[:, 1, 1] = sy, cy
    rz[:, 2, 2] = 1.0
    ry = np.zeros((n, 3, 3))
    ry[:, 0, 0], ry[:, 0, 2] = cp, sp
    ry[:, 1, 1] = 1.0
    ry[:, 2, 0], ry[:, 2, 2] = -sp, cp
    rx = np.zeros((n, 3, 3))
    rx[:, 0, 0] = 1.0
    rx[:, 1, 1], rx[:, 1, 2] = cr, -sr
    rx[:, 2, 1], rx[:, 2, 2] = sr, cr
    return np.einsum("nij,njk,nkl->nil", rz, ry, rx)


def view_matrices(
    x: np.ndarray,
    y: np.ndarray,
    z: np.ndarray,
    pitch: np.ndarray,
    yaw: np.ndarray,
    roll: np.ndarray,
    scale: float = CM_TO_M,
) -> np.ndarray:
    """Batched flattened 4×4 view matrices [Rᵀ | −Rᵀt]; translation scaled
    cm→m (`camera_exporter.py:283-306`).  Returns (n, 16) row-major."""
    rot = rotation_matrices(pitch, yaw, roll)
    rt = np.transpose(rot, (0, 2, 1))
    t = np.stack([x, y, z], axis=1) * scale
    tv = -np.einsum("nij,nj->ni", rt, t)
    out = np.zeros((len(x), 4, 4))
    out[:, :3, :3] = rt
    out[:, :3, 3] = tv
    out[:, 3, 3] = 1.0
    return out.reshape(len(x), 16)


@F.pandas_udf(ArrayType(DoubleType()))
def view_matrix_udf(
    x: pd.Series, y: pd.Series, z: pd.Series,
    pitch: pd.Series, yaw: pd.Series, roll: pd.Series,
) -> pd.Series:
    """Arrow-vectorized extrinsic per pose row → array<double>(16)."""
    m = view_matrices(
        x.to_numpy(float), y.to_numpy(float), z.to_numpy(float),
        pitch.to_numpy(float), yaw.to_numpy(float), roll.to_numpy(float),
    )
    return pd.Series(list(m))


def with_extrinsics(
    poses: DataFrame,
    pos_cols=("x", "y", "z"),
    rot_cols=("pitch", "yaw", "roll"),
) -> DataFrame:
    """Append m00..m33 extrinsic columns to a long-format pose frame —
    the per-frame export loop of `camera_exporter.py:414-437`, through the
    pandas UDF."""
    m = view_matrix_udf(
        *[F.col(c).cast("double") for c in pos_cols],
        *[F.col(c).cast("double") for c in rot_cols],
    )
    out = poses.withColumn("__m", m)
    names = [f"m{i}{j}" for i in range(4) for j in range(4)]
    for idx, name in enumerate(names):
        out = out.withColumn(name, F.col("__m")[idx])
    return out.drop("__m")
