"""Rotation / view-matrix math (SURVEY.md §2.5 extrinsic export, §2.7 trig).

Reference semantics (`camera_exporter.py:253-306`):
- UE centimeters → meters: ×0.01 (`camera_exporter.py:13`)
- Euler application order Yaw→Pitch→Roll builds R (world-from-camera)
- view (extrinsic) matrix = [Rᵀ | −Rᵀ·t] as a 4×4, flattened row-major to 16
  values m00..m33 (`camera_exporter.py:299-306`)

Implemented as pure Column expressions (``extrinsic_exprs``): the rotation
is expanded symbolically, so the export stays inside whole-stage codegen with
no Python worker.  The batched numpy form it is pinned against is the test
oracle ``tests/ref_geometry.py``.  Column-expression variants of the scalar
trig (deg/rad, atan2 pitch/yaw) live in operators/windows.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CM_TO_M = 0.01


def extrinsic_exprs(
    pos_cols=("x", "y", "z"),
    rot_cols=("pitch", "yaw", "roll"),
    scale: float = CM_TO_M,
) -> dict[str, "F.Column"]:
    """The 16 extrinsic entries as pure Column expressions (whole-stage
    codegen; no Python boundary).

    Same math as the numpy oracle ``tests/ref_geometry.py::view_matrices``:
    R = Rz(yaw)·Ry(pitch)·Rx(roll) expanded symbolically, output
    [Rᵀ | −Rᵀ·t] row-major.  The shared sin/cos subexpressions appear once
    each — Catalyst's subexpression elimination evaluates 6 trig calls per
    row, same as the numpy path.  Agreement with the oracle's pandas-UDF
    form (``with_extrinsics``) is within 1 ulp of the trig libraries (JVM
    StrictMath vs numpy) — both are exact at the oracle's round(…, 6).
    """
    p, y, r = (F.radians(F.col(c).cast("double")) for c in rot_cols)
    cp, sp = F.cos(p), F.sin(p)
    cy, sy = F.cos(y), F.sin(y)
    cr, sr = F.cos(r), F.sin(r)
    # world-from-camera rotation, UE order Yaw→Pitch→Roll
    rot = {
        (0, 0): cy * cp,
        (0, 1): -sy * cr + cy * sp * sr,
        (0, 2): sy * sr + cy * sp * cr,
        (1, 0): sy * cp,
        (1, 1): cy * cr + sy * sp * sr,
        (1, 2): -cy * sr + sy * sp * cr,
        (2, 0): -sp,
        (2, 1): cp * sr,
        (2, 2): cp * cr,
    }
    tx, ty, tz = (F.col(c).cast("double") * scale for c in pos_cols)
    t = (tx, ty, tz)
    out: dict[str, F.Column] = {}
    for i in range(3):
        for j in range(3):
            out[f"m{i}{j}"] = rot[(j, i)]  # transpose
        out[f"m{i}3"] = -(rot[(0, i)] * t[0] + rot[(1, i)] * t[1] + rot[(2, i)] * t[2])
    for j in range(3):
        out[f"m3{j}"] = F.lit(0.0)
    out["m33"] = F.lit(1.0)
    return out


def with_extrinsics_expr(
    poses: DataFrame,
    pos_cols=("x", "y", "z"),
    rot_cols=("pitch", "yaw", "roll"),
) -> DataFrame:
    """Append m00..m33 extrinsic columns to a long-format pose frame — the
    per-frame export loop of `camera_exporter.py:414-437` — as Column
    expressions that stay inside whole-stage codegen end to end."""
    exprs = extrinsic_exprs(pos_cols, rot_cols)
    return poses.select("*", *[c.alias(n) for n, c in exprs.items()])
