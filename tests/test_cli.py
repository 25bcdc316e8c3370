"""CLI dispatch (worlddatapipeline_spark.__main__) — app.py analog."""

import json

import pytest

from worlddatapipeline_spark.__main__ import main


def test_cli_scan_and_reconcile(spark, tmp_path, capsys):
    files = spark.createDataFrame(
        [
            ("CityA", "Downtown", "/p/CityA/Content/Maps/Downtown.umap", 100),
            ("CityB", "Plains", "/p/CityB/Content/Maps/Plains.umap", 300),
        ],
        "scene_name string, map_name string, path string, size long",
    )
    fp = str(tmp_path / "files")
    files.write.parquet(fp)
    rc = main(["scan", "--files", fp, "--out", str(tmp_path / "scan_out")])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"scenes": 2, "maps": 2}
    scenes = spark.read.parquet(str(tmp_path / "scan_out" / "scenes"))
    assert scenes.count() == 2

    cat = str(tmp_path / "cat")
    ls = str(tmp_path / "ls")
    spark.createDataFrame(
        [("s1", True), ("s2", False)], "scene_name string, exists_flag boolean"
    ).write.parquet(cat)
    spark.createDataFrame([("s1",), ("s9",)], "scene_name string").write.parquet(ls)
    rc = main(["reconcile", "--catalog", cat, "--listing", ls,
               "--keys", "scene_name"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats == {"verified": 1, "missing": 1, "untracked": 1}


@pytest.mark.parametrize("export", [True, False])
def test_cli_sequence_frames(spark, tmp_path, capsys, export):
    """`frames` is sequences x resample_points, from the export's observed
    row count when there is a destination, else from a count."""
    maps = str(tmp_path / "maps")
    spark.createDataFrame([("Demo",)], "map_name string").write.parquet(maps)
    man = tmp_path / "job.json"
    man.write_text(json.dumps({"sequences_per_map": 2, "resample_points": 12,
                               "n_segments": 3, "steps_per_segment": 10}))
    argv = ["sequence", "--maps", maps, "--manifest", str(man)]
    if export:
        argv += ["--out", str(tmp_path / "cams")]
    assert main(argv) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"frames": 2 * 12}
    if export:
        back = spark.read.csv(str(tmp_path / "cams" / "transform"), header=True)
        assert back.count() == 2 * 12


def test_cli_query_dispatch(spark, capsys):
    rc = main(["query", "catalog_stats", "--sf-dir", "/root/testdata/sf0.001"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["query"] == "catalog_stats" and out["rows"] >= 1


def test_cli_unknown_query(spark, capsys):
    rc = main(["query", "nope", "--sf-dir", "/root/testdata/sf0.001"])
    assert rc == 2


def test_cli_dq_gate(spark, tmp_path, capsys):
    import json

    from worlddatapipeline_spark.__main__ import main

    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a"), (1, None)], "id int, v string"
    ).write.parquet(p)
    rc = main(["dq", "--table", p, "--unique", "id", "--not-null", "v",
               "--fail-on-violation"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1
    assert out["unique(id)"] == 2 and out["not_null(v)"] == 1

    clean = str(tmp_path / "c")
    spark.createDataFrame([(1, "a")], "id int, v string").write.parquet(clean)
    assert main(["dq", "--table", clean, "--unique", "id",
                 "--fail-on-violation"]) == 0


def test_cli_vacuum(spark, tmp_path, capsys):
    import json

    from worlddatapipeline_spark.__main__ import main
    from worlddatapipeline_spark.operators import reconcile

    p = str(tmp_path / "tbl")
    spark.createDataFrame([(1, 0.0)], ["k", "bal"]).write.parquet(p)
    for i in (1, 2, 3):
        reconcile.merge_upsert_parquet(
            spark, p, spark.createDataFrame([(1, float(i))], ["k", "bal"]),
            ["k"], keep_versions=3,
        )
    rc = main(["vacuum", "--table", p, "--keep-last", "1"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert out["kept"] == ["_v00000003"]
    assert out["removed"] == ["_v00000001", "_v00000002"]


def test_cli_purge(spark, tmp_path, capsys):
    import json

    from worlddatapipeline_spark.__main__ import main
    from worlddatapipeline_spark.operators import reconcile

    p = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    ).write.parquet(p)
    reconcile.merge_upsert_parquet(
        spark, p, spark.createDataFrame([(2, "b2")], ["k", "v"]), ["k"]
    )
    keys = str(tmp_path / "erase")
    spark.createDataFrame([(2,)], ["k"]).write.parquet(keys)
    rc = main(["purge", "--table", p, "--keys", "k", "--values", keys])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["rows_after_purge"] == 2
    assert len(reconcile.table_versions(p)) == 1
