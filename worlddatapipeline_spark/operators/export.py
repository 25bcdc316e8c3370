"""Camera-export sinks (SURVEY.md §2.1 CSV sinks, §1.1 #5).

Reproduces the reference's three camera CSV artifacts per sequence
(`camera_exporter.py:383-437`) from the long-format pose frame:

- ``{seq}_intrinsic.csv``: one row —
  fov,aspect_ratio,width,height,sensor_width,sensor_height,focal_length
  (defaults `camera_exporter.py:163-171`)
- ``{seq}_transform.csv``: frame,loc_x,loc_y,loc_z,rot_x,rot_y,rot_z
  (meters / degrees)
- ``{seq}_extrinsic.csv``: frame,m00..m33 (row-major view matrix)

Writes are `df.write.csv(header=True)` partitioned by sequence — at scale
`partitionBy(sequence_id)` produces one directory per sequence with the CSV
parts inside, the distributed equivalent of the per-sequence files.

`write_camera_csvs` computes the pose lineage once for both layouts: the
two writes read one persisted copy of the poses (simulation, resample and
angle stages included), which it releases when the writes end, and the
transform row count comes from an observed metric on the first write, so
a caller that reports it needs no extra pass.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.geometry import CM_TO_M, with_extrinsics_expr
from ..session import literal_frame

INTRINSIC_DEFAULTS = {
    "fov": 90.0,
    "aspect_ratio": 16.0 / 9.0,
    "width": 1920,
    "height": 1080,
    "sensor_width": 24.576,
    "sensor_height": 13.824,
    "focal_length": 35.0,
}


def intrinsic_df(spark: SparkSession, overrides: dict | None = None) -> DataFrame:
    """One-row intrinsic frame with the reference defaults
    (`camera_exporter.py:163-171,383-390`)."""
    vals = dict(INTRINSIC_DEFAULTS)
    vals.update(overrides or {})
    return literal_frame(
        spark,
        [
            (
                float(vals["fov"]),
                float(vals["aspect_ratio"]),
                int(vals["width"]),
                int(vals["height"]),
                float(vals["sensor_width"]),
                float(vals["sensor_height"]),
                float(vals["focal_length"]),
            )
        ],
        "fov double, aspect_ratio double, width bigint, height bigint, "
        "sensor_width double, sensor_height double, focal_length double",
    )


def transform_rows(poses: DataFrame, scale: float = CM_TO_M) -> DataFrame:
    """`{seq}_transform.csv` rows: frame, location (meters), rotation
    (degrees, x=roll y=pitch z=yaw per the reference header order
    `camera_exporter.py:404-407`)."""
    return poses.select(
        "sequence_id",
        "frame",
        (F.col("x") * scale).alias("loc_x"),
        (F.col("y") * scale).alias("loc_y"),
        (F.col("z") * scale).alias("loc_z"),
        F.col("roll").alias("rot_x"),
        F.col("pitch").alias("rot_y"),
        F.col("yaw").alias("rot_z"),
    )


def extrinsic_rows(poses: DataFrame) -> DataFrame:
    """`{seq}_extrinsic.csv` rows: frame + 16 matrix columns
    (`camera_exporter.py:411-437`)."""
    cols = ["sequence_id", "frame"] + [f"m{i}{j}" for i in range(4) for j in range(4)]
    return with_extrinsics_expr(poses).select(*cols)


def write_camera_csvs(
    poses: DataFrame, out_dir: str, mode: str = "overwrite"
) -> int:
    """Write transform + extrinsic CSVs partitioned by sequence_id —
    the distributed form of the reference's per-sequence files.

    Both layouts derive from one pose lineage, so ``poses`` is persisted
    for the two writes (and released afterwards, also on failure) unless
    the caller already cached it.  Returns the number of transform rows,
    observed during the write itself."""
    owned = poses.storageLevel == StorageLevel.NONE
    if owned:
        poses = poses.persist()
    try:
        obs = Observation()
        rows = transform_rows(poses).observe(obs, F.count(F.lit(1)).alias("rows"))
        rows.write.mode(mode).partitionBy("sequence_id").csv(
            f"{out_dir}/transform", header=True
        )
        extrinsic_rows(poses).write.mode(mode).partitionBy("sequence_id").csv(
            f"{out_dir}/extrinsic", header=True
        )
        return int(obs.get["rows"])
    finally:
        if owned:
            poses.unpersist()
