"""Unit tests for the extension-query helpers (queries_ext.py)."""

from pyspark.sql import functions as F

from worlddatapipeline_spark.functions.paths import longest_common_prefix
from worlddatapipeline_spark.queries_ext import _synth_listing_lines
from worlddatapipeline_spark.sources.listings import parse_bos_listing


def test_longest_common_prefix(spark):
    df = spark.createDataFrame(
        [("scenes/A/x.uasset", "scenes/A/y.uasset"),
         ("abc", "abd"),
         ("same", "same"),
         ("", "anything")],
        "a string, b string",
    )
    got = [
        r["p"]
        for r in df.select(
            longest_common_prefix(F.col("a"), F.col("b")).alias("p")
        ).collect()
    ]
    assert got == ["scenes/A/", "ab", "same", ""]


def test_synth_listing_roundtrip(spark):
    part = spark.createDataFrame(
        [(1, "small ring", "Brand#2", "t", 7, 900.0),
         (2, "red widget", "Brand#17", "t", 3, 900.1)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    parsed = parse_bos_listing(_synth_listing_lines(part))
    rows = {(r["kind"], r["key"]): r for r in parsed.collect()}
    # TOTAL footer dropped; 2 objects + 2 prefixes survive
    assert len(rows) == 4
    obj = rows[("object", "scenes/Brand#2/small ring.uasset")]
    assert obj["size"] == 1 * 100 + 7
    assert obj["storage_class"] == "STANDARD"
    assert ("prefix", "scenes/Brand#17/") in rows


def test_planted_corpus_degrades_to_empty_below_64_ids(spark, tmp_path):
    """Below the 64-id planted-corpus floor, embedding_kmeans and
    semantic_dedup_keep must emit EMPTY frames (matching schemas) and
    their DuckDB oracles must go empty too — not hard-fail the harness
    (ADVICE r8: the LSH/IVF planted corpora already degrade gracefully)."""
    import duckdb

    from worlddatapipeline_spark import queries_ext as qx

    sf_dir = tmp_path / "tiny"
    sf_dir.mkdir()
    spark.createDataFrame(
        [(i, [float(i)] * 8, 0) for i in range(10)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(sf_dir / "embeddings.parquet"))

    km = qx.q_embedding_kmeans(spark, str(sf_dir))
    sd = qx.q_semantic_dedup_keep(spark, str(sf_dir))
    assert km.count() == 0 and sd.count() == 0
    assert km.columns == [
        "cluster",
        "n_vectors",
        "cluster_in_range",
        "size_positive",
        "sizes_sum_to_corpus",
    ]
    assert sd.columns == [
        "vec_id",
        "cluster",
        "dup_of",
        "order_ok",
        "cluster_in_range",
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * "
        "FROM read_parquet('{}/*.parquet')".format(
            str(sf_dir / "embeddings.parquet")
        )
    )
    assert con.execute(qx.SQL_EMBEDDING_KMEANS).fetchall() == []
    assert con.execute(qx.SQL_SEMANTIC_DEDUP_KEEP).fetchall() == []


def test_planted_corpus_rejects_duplicated_plus_missing_id(spark, tmp_path):
    """A table with vec_id 5 duplicated and vec_id 7 missing still has
    count(vec_id<64) == 64 — the r9 gate would have read it as complete
    and aggregated a corrupt corpus.  The exact gate (count == 64 AND
    countDistinct == 64, DISTINCT mirrored in the oracle guard) must
    degrade BOTH engines to empty instead (ADVICE r9)."""
    import duckdb

    from worlddatapipeline_spark import queries_ext as qx

    sf_dir = tmp_path / "dup"
    sf_dir.mkdir()
    ids = [i for i in range(64) if i != 7] + [5]  # 64 rows, 63 distinct
    spark.createDataFrame(
        [(i, [float(i)] * 8, 0) for i in ids],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(sf_dir / "embeddings.parquet"))

    assert qx.q_embedding_kmeans(spark, str(sf_dir)).count() == 0
    assert qx.q_semantic_dedup_keep(spark, str(sf_dir)).count() == 0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * "
        "FROM read_parquet('{}/*.parquet')".format(
            str(sf_dir / "embeddings.parquet")
        )
    )
    assert con.execute(qx.SQL_EMBEDDING_KMEANS).fetchall() == []
    assert con.execute(qx.SQL_SEMANTIC_DEDUP_KEEP).fetchall() == []


def test_planted_corpus_nonempty_at_real_sf(spark):
    """At sf >= 0.01 the embeddings table carries all 64 planted ids, so
    the degrade path must NOT trigger — a green-empty result at a scale
    where the corpus should exist would hide silent data loss behind the
    tiny-sf guard (ADVICE r9)."""
    from worlddatapipeline_spark import queries_ext as qx

    corpus = qx._planted_kmeans_corpus(
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    )
    assert corpus is not None
    assert qx.q_embedding_kmeans(spark, "/root/testdata/sf0.01").count() == 8


def test_equi_depth_bins_router_branches_identical(spark, monkeypatch):
    """The r12 size-routed octile boundaries must produce IDENTICAL bins
    from the exact holistic percentile (rows under
    SPARK_GRAFT_PCT_DIST_MIN) and the distributed rank form (above it)."""
    from worlddatapipeline_spark.queries_analytics import q_equi_depth_bins

    sf = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_PCT_DIST_MIN", "1000000000")
    exact = sorted(tuple(r) for r in q_equi_depth_bins(spark, sf).collect())
    monkeypatch.setenv("SPARK_GRAFT_PCT_DIST_MIN", "0")
    routed_df = q_equi_depth_bins(spark, sf)
    routed = sorted(tuple(r) for r in routed_df.collect())
    assert exact == routed
    plan = routed_df._jdf.queryExecution().executedPlan().toString()
    assert "percentile" not in plan.lower()


def test_supplier_volume_half_cent_tie_matches_oracle(spark, tmp_path):
    """A group whose exact DECIMAL revenue ends in 5 at the third decimal
    must round the same way on Spark and in the DuckDB oracle.  Rounding
    the DECIMAL before the cast to DOUBLE makes it an exact half-up tie on
    both sides; rounding the DOUBLE let the engines disagree by a cent."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from worlddatapipeline_spark import queries_ext as qx

    tables = {
        "region": {"r_regionkey": pa.array([0], pa.int32()),
                   "r_name": ["EUROPE"]},
        "nation": {"n_nationkey": pa.array([0, 1], pa.int32()),
                   "n_name": ["NATION_0", "NATION_1"],
                   "n_regionkey": pa.array([0, 0], pa.int32())},
        "supplier": {"s_suppkey": pa.array([1, 2], pa.int64()),
                     "s_name": ["s1", "s2"],
                     "s_nationkey": pa.array([0, 1], pa.int32()),
                     "s_acctbal": [0.0, 0.0]},
        "customer": {"c_custkey": pa.array([1, 2], pa.int64()),
                     "c_name": ["c1", "c2"],
                     "c_nationkey": pa.array([0, 1], pa.int32()),
                     "c_acctbal": [0.0, 0.0],
                     "c_mktsegment": ["X", "X"]},
        "orders": {"o_orderkey": pa.array([1, 2], pa.int64()),
                   "o_custkey": pa.array([1, 2], pa.int64())},
        # NATION_0: exactly 1.005 in DECIMAL(28,8); NATION_1: 1.25 * 0.9
        "lineitem": {"l_orderkey": pa.array([1, 2], pa.int64()),
                     "l_suppkey": pa.array([1, 2], pa.int64()),
                     "l_extendedprice": [1.005, 1.25],
                     "l_discount": [0.0, 0.1]},
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), str(tmp_path / f"{name}.parquet"))

    got = {
        r["n_name"]: (r["revenue"], r["n_items"])
        for r in qx.q_supplier_volume(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    for name in tables:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{tmp_path}/{name}.parquet'"
        )
    want = {
        n: (rev, cnt)
        for _, n, rev, cnt in con.execute(qx.SQL_SUPPLIER_VOLUME).fetchall()
    }
    assert got == want
    assert got["NATION_0"] == (1.01, 1)
