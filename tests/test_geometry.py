"""Extrinsic/view-matrix math tests with numpy goldens."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import ref_geometry
from worlddatapipeline_spark.functions import geometry


def test_rotation_identity():
    r = ref_geometry.rotation_matrices(np.array([0.0]), np.array([0.0]), np.array([0.0]))
    assert np.allclose(r[0], np.eye(3))


def test_rotation_yaw_90():
    r = ref_geometry.rotation_matrices(np.array([0.0]), np.array([90.0]), np.array([0.0]))
    # yaw 90° about Z maps x-axis -> y-axis
    assert np.allclose(r[0] @ np.array([1, 0, 0]), [0, 1, 0], atol=1e-12)


def test_rotation_orthonormal_property():
    rng = np.random.default_rng(2)
    p, y, r = (rng.uniform(-180, 180, 50) for _ in range(3))
    mats = ref_geometry.rotation_matrices(p, y, r)
    for m in mats:
        assert np.allclose(m @ m.T, np.eye(3), atol=1e-10)
        assert np.linalg.det(m) == pytest.approx(1.0)


def test_view_matrix_inverts_camera():
    """[Rᵀ|−Rᵀt] maps the camera position to the origin."""
    m = ref_geometry.view_matrices(
        np.array([100.0]), np.array([200.0]), np.array([300.0]),
        np.array([10.0]), np.array([20.0]), np.array([30.0]),
    ).reshape(4, 4)
    cam_m = np.array([100.0, 200.0, 300.0]) * geometry.CM_TO_M
    out = m @ np.array([*cam_m, 1.0])
    assert np.allclose(out[:3], 0.0, atol=1e-12)
    assert m[3, 3] == 1.0 and np.allclose(m[3, :3], 0.0)


def test_with_extrinsics_spark(spark):
    df = spark.createDataFrame(
        [("s", 0, 100.0, 0.0, 0.0, 0.0, 0.0, 0.0)],
        ["sequence_id", "frame", "x", "y", "z", "pitch", "yaw", "roll"],
    )
    out = ref_geometry.with_extrinsics(df).collect()[0]
    # zero rotation: Rᵀ = I; translation = -t*0.01
    assert out["m00"] == pytest.approx(1.0)
    assert out["m03"] == pytest.approx(-1.0)  # -100cm * 0.01
    assert out["m33"] == pytest.approx(1.0)
    golden = ref_geometry.view_matrices(
        np.array([100.0]), np.array([0.0]), np.array([0.0]),
        np.array([0.0]), np.array([0.0]), np.array([0.0]),
    )[0]
    got = np.array([out[f"m{i}{j}"] for i in range(4) for j in range(4)])
    assert np.allclose(got, golden)


def test_export_csv_schemas(spark, tmp_path):
    from worlddatapipeline_spark.operators import export

    poses = spark.createDataFrame(
        [("s1", 0, 100.0, 0.0, 0.0, 5.0, 45.0, 0.0),
         ("s1", 1, 200.0, 0.0, 0.0, 5.0, 46.0, 0.0)],
        ["sequence_id", "frame", "x", "y", "z", "pitch", "yaw", "roll"],
    )
    t = export.transform_rows(poses)
    assert t.columns == [
        "sequence_id", "frame", "loc_x", "loc_y", "loc_z", "rot_x", "rot_y", "rot_z",
    ]
    row = t.orderBy("frame").collect()[0]
    assert row["loc_x"] == pytest.approx(1.0)  # 100cm -> 1m
    assert row["rot_z"] == pytest.approx(45.0)  # yaw in rot_z position
    e = export.extrinsic_rows(poses)
    assert e.columns[:3] == ["sequence_id", "frame", "m00"] and len(e.columns) == 18
    export.write_camera_csvs(poses, str(tmp_path / "cam"))
    back = spark.read.csv(
        str(tmp_path / "cam" / "transform"), header=True, inferSchema=True
    )
    assert back.count() == 2

    i = export.intrinsic_df(spark)
    r = i.collect()[0]
    assert r["fov"] == 90.0 and r["width"] == 1920 and r["focal_length"] == 35.0


def _poses(spark):
    return spark.createDataFrame(
        [("s1", 0, 100.0, 0.0, 0.0, 5.0, 45.0, 0.0),
         ("s1", 1, 200.0, 0.0, 0.0, 5.0, 46.0, 0.0),
         ("s2", 0, 300.0, 10.0, 0.0, 6.0, 47.0, 0.0)],
        ["sequence_id", "frame", "x", "y", "z", "pitch", "yaw", "roll"],
    )


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_write_camera_csvs_keeps_caller_cache(spark, tmp_path):
    """A frame the caller persisted is still cached after the export."""
    from pyspark import StorageLevel

    from worlddatapipeline_spark.operators import export

    poses = _poses(spark).persist()
    try:
        poses.count()
        held = _persistent_rdds(spark)
        assert export.write_camera_csvs(poses, str(tmp_path / "cam")) == 3
        assert poses.storageLevel != StorageLevel.NONE
        assert held <= _persistent_rdds(spark)
    finally:
        poses.unpersist()


@pytest.mark.parametrize("case", ["ok", "out_dir_is_file", "second_write_fails"])
def test_write_camera_csvs_releases_own_cache(spark, tmp_path, case):
    """An uncached frame is persisted only for the two writes: no cached
    RDD outlives the call, also when a write raises (after the first write
    has filled the cache, in the ``second_write_fails`` case)."""
    from worlddatapipeline_spark.operators import export

    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    out_dir, mode = tmp_path / "cam", "overwrite"
    if case == "out_dir_is_file":
        out_dir.write_text("not a directory")
        raises = Py4JJavaError  # the transform write cannot create its dir
    elif case == "second_write_fails":
        (out_dir / "extrinsic").mkdir(parents=True)
        mode, raises = "errorifexists", AnalysisException
    before = _persistent_rdds(spark)
    if case == "ok":
        assert export.write_camera_csvs(_poses(spark), str(out_dir)) == 3
    else:
        with pytest.raises(raises):
            export.write_camera_csvs(_poses(spark), str(out_dir), mode=mode)
    if case == "second_write_fails":
        assert (out_dir / "transform" / "_SUCCESS").exists()
    assert _persistent_rdds(spark) <= before


def test_extrinsics_expr_matches_pandas_udf(spark):
    """Differential: the codegen Column form and the numpy pandas-UDF form
    produce identical matrices (same IEEE ops, trig within 1 ulp)."""
    import numpy as np

    rows = [
        (i, float(i * 13 % 500), float(i * 7 % 300), float(i % 90),
         float(i % 120 - 60), float((i * 37) % 360 - 180), float(i % 45 - 20))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "frame long, x double, y double, z double, pitch double, yaw double, roll double"
    )
    a = ref_geometry.with_extrinsics(df).orderBy("frame").collect()
    b = geometry.with_extrinsics_expr(df).orderBy("frame").collect()
    names = [f"m{i}{j}" for i in range(4) for j in range(4)]
    for ra, rb in zip(a, b):
        for n in names:
            assert abs(ra[n] - rb[n]) < 1e-12
