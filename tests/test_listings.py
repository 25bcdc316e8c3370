"""bcecmd-style listing parse + inventory source tests."""

import pytest
from pyspark.sql import functions as F

from worlddatapipeline_spark.sources import listings

SAMPLE = [
    "PRE  raw/SceneA/",
    "PRE  raw/SceneB/",
    "2024-01-05 11:22:33    123456  STANDARD  raw/SceneA/Content/Maps/Demo.umap",
    "2024-01-06 08:00:01    777  STANDARD  raw/SceneA/Content/Mesh/file with spaces.uasset",
    "2024-01-07 09:10:11    999  COLD  raw/SceneB/data/Content/Props/p.uasset",
    "TOTAL  3 OBJECTS  124,  some footer",
    "",
]


def _lines(spark):
    return spark.createDataFrame([(l,) for l in SAMPLE], ["value"])


def test_parse_kinds(spark):
    out = listings.parse_bos_listing(_lines(spark)).collect()
    kinds = [r["kind"] for r in out]
    assert kinds.count("prefix") == 2 and kinds.count("object") == 3
    assert len(out) == 5  # TOTAL + blank dropped


def test_parse_key_with_spaces(spark):
    out = listings.parse_bos_listing(_lines(spark)).filter(
        F.col("kind") == "object"
    ).collect()
    keys = {r["key"] for r in out}
    assert "raw/SceneA/Content/Mesh/file with spaces.uasset" in keys
    sizes = {r["key"]: r["size"] for r in out}
    assert sizes["raw/SceneA/Content/Maps/Demo.umap"] == 123456


def test_parse_prefix_strip(spark):
    out = listings.parse_bos_listing(_lines(spark)).filter(
        F.col("kind") == "prefix"
    ).collect()
    assert sorted(r["key"] for r in out) == ["raw/SceneA/", "raw/SceneB/"]


def test_first_level_folders(spark):
    objs = listings.parse_bos_listing(_lines(spark)).filter(F.col("kind") == "object")
    out = listings.first_level_folders(objs).collect()
    assert sorted(r["folder"] for r in out) == ["raw"]


def test_content_subdir_first_occurrence(spark):
    df = spark.createDataFrame(
        [
            ("SceneA/Content/Maps/zz.uasset",),
            ("SceneA/Content/Maps/a.uasset",),
            ("SceneA/Content/Mesh/b.uasset",),
            ("SceneB/data/Content/Props/c.uasset",),
            ("SceneC/no/content/here.txt",),
        ],
        ["key"],
    )
    out = listings.content_subdir_first_occurrence(df).collect()
    got = {(r["scene"], r["content_dir"]): r["first_key"] for r in out}
    assert got[("SceneA", "Maps")] == "SceneA/Content/Maps/a.uasset"
    assert ("SceneA", "Mesh") in got
    assert got[("SceneB", "Props")] == "SceneB/data/Content/Props/c.uasset"
    assert not any(s == "SceneC" for s, _ in got)


def test_scan_directory(spark, tmp_path):
    (tmp_path / "sub").mkdir()
    (tmp_path / "a.txt").write_text("hello")
    (tmp_path / "sub" / "b.bin").write_bytes(b"12345678")
    (tmp_path / "sub" / "skip.tmp").write_text("x")
    out = listings.scan_directory(
        spark, str(tmp_path), exclude_exts=["tmp"]
    ).collect()
    rel = {r["relpath"]: r["size"] for r in out}
    assert rel == {"a.txt": 5, "sub/b.bin": 8}


@pytest.mark.parametrize("case", ["no_files", "all_excluded"])
def test_scan_directory_empty_tree(spark, tmp_path, case):
    """A tree with nothing to list is an empty four-column frame, not a
    schema-inference error."""
    (tmp_path / "sub").mkdir()
    if case == "all_excluded":
        (tmp_path / "a.txt").write_text("hello")
        (tmp_path / "sub" / "b.url").write_text("x")
    out = listings.scan_directory(spark, str(tmp_path), exclude_exts=["txt", "url"])
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("path", "string"), ("relpath", "string"),
        ("size", "bigint"), ("mtime", "bigint"),
    ]
    assert out.count() == 0


def test_python_datasource_parity_with_expression_parse(spark, tmp_path):
    """The Spark 4 Python DataSource (bos_listing) and the expression
    parser are independent implementations of the same line format — they
    must produce identical rows over the same files (malformed line and
    footer dropped, key-with-spaces kept, prefix rows typed-null)."""
    f1 = tmp_path / "part1.txt"
    f2 = tmp_path / "part2.txt"
    f1.write_text("\n".join(SAMPLE[:4]) + "\n", encoding="utf-8")
    f2.write_text(
        "\n".join(SAMPLE[4:] + ["not a listing line at all"]) + "\n",
        encoding="utf-8",
    )

    listings.register_bos_listing_source(spark)
    via_ds = spark.read.format("bos_listing").load(str(tmp_path)).collect()
    via_expr = listings.parse_bos_listing(
        spark.read.text(str(tmp_path) + "/*.txt")
    ).collect()

    key = lambda r: (r["kind"], r["key"])  # noqa: E731
    assert sorted(map(tuple, via_ds), key=str) == sorted(
        map(tuple, via_expr), key=str
    )
    assert len(via_ds) == 5  # 2 PRE + 3 objects
    # partition-per-file parallelism: two files -> two input partitions
    assert (
        spark.read.format("bos_listing").load(str(tmp_path)).rdd.getNumPartitions()
        == 2
    )


def test_python_datasource_lenient_typed_fields(spark, tmp_path):
    """Digit-shaped but invalid datetimes and overflowing sizes must yield
    NULL fields (matching try_to_timestamp / try_cast), not task crashes."""
    bad = [
        "2024-02-31 11:22:33    123  STANDARD  k/feb31.bin",
        "2024-01-05 25:00:00    456  STANDARD  k/hour25.bin",
        "2024-01-05 11:22:33    99999999999999999999  STANDARD  k/huge.bin",
    ]
    (tmp_path / "l.txt").write_text("\n".join(bad) + "\n", encoding="utf-8")
    listings.register_bos_listing_source(spark)
    via_ds = {
        r["key"]: r
        for r in spark.read.format("bos_listing").load(str(tmp_path)).collect()
    }
    via_expr = {
        r["key"]: r
        for r in listings.parse_bos_listing(
            spark.read.text(str(tmp_path) + "/*.txt")
        ).collect()
    }
    assert set(via_ds) == set(via_expr) == {"k/feb31.bin", "k/hour25.bin", "k/huge.bin"}
    for k in via_ds:
        assert via_ds[k]["modified"] == via_expr[k]["modified"]
        assert via_ds[k]["size"] == via_expr[k]["size"]
    assert via_ds["k/feb31.bin"]["modified"] is None
    assert via_ds["k/huge.bin"]["size"] is None


def test_python_datasource_streaming_incremental(spark, tmp_path):
    """readStream over the bos_listing source: each availableNow run must
    consume exactly the files that appeared since the checkpointed offset
    (exactly-once per file across restarts)."""
    src = tmp_path / "drops"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (src / "a.txt").write_text("\n".join(SAMPLE[:4]) + "\n", encoding="utf-8")

    listings.register_bos_listing_source(spark)

    def run_once():
        q = (
            spark.readStream.format("bos_listing")
            .option("path", str(src))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == 4  # 2 PRE + 2 objects from a.txt

    # second file appears; rerun from the checkpoint — only the delta reads
    (src / "b.txt").write_text("\n".join(SAMPLE[4:]) + "\n", encoding="utf-8")
    run_once()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 5
    keys = sorted(r["key"] for r in rows if r["kind"] == "object")
    assert len(keys) == 3 and keys[-1].endswith("p.uasset")

    # rerun with nothing new: no duplicates
    run_once()
    assert spark.read.parquet(out).count() == 5
