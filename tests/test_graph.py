"""Graph operator tests: KNN edges, connected components, island selection."""

import pytest
from pyspark.sql import functions as F

from worlddatapipeline_spark.operators import graph


def test_connected_components_two_islands(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 13)], ["src", "dst"]
    )
    out = graph.connected_components(edges).collect()
    comp = {r["id"]: r["component"] for r in out}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == comp[12] == comp[13] == 10
    assert comp[1] != comp[10]


def test_connected_components_chain_convergence(spark):
    """A long chain needs multiple propagation rounds."""
    n = 30
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], ["src", "dst"])
    out = graph.connected_components(edges).collect()
    assert {r["component"] for r in out} == {0}
    assert len(out) == n + 1


def test_connected_components_isolated_vertex(spark):
    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    verts = spark.createDataFrame([(1,), (2,), (99,)], ["id"])
    out = graph.connected_components(edges, vertices=verts).collect()
    comp = {r["id"]: r["component"] for r in out}
    assert comp[99] == 99 and comp[1] == comp[2] == 1


def test_island_stats_ratio_rule(spark):
    # island A: 9 pts (90%), island B: 1 pt (10% -> passes >= 0.10)
    comp = spark.createDataFrame(
        [(i, 0) for i in range(9)] + [(100, 100)], ["id", "component"]
    )
    out = graph.island_stats(comp, min_ratio=0.10).collect()
    sel = {r["component"]: r["selected"] for r in out}
    assert sel[0] is True and sel[100] is True


def test_island_stats_fallback_largest(spark):
    # all islands below ratio 0.9 -> fallback selects only the largest
    comp = spark.createDataFrame(
        [(i, 0) for i in range(6)] + [(j, 50) for j in range(50, 54)],
        ["id", "component"],
    )
    out = graph.island_stats(comp, min_ratio=0.9).collect()
    sel = {r["component"]: r["selected"] for r in out}
    assert sel[0] is True and sel[50] is False


def test_knn_edges(spark):
    pts = spark.createDataFrame(
        [("m", 0, 0.0, 0.0, 0.0), ("m", 1, 1.0, 0.0, 0.0), ("m", 2, 10.0, 0.0, 0.0)],
        ["map", "sample_id", "x", "y", "z"],
    )
    out = graph.knn_edges(pts, k=1, group_cols=["map"]).collect()
    nearest = {r["src"]: r["dst"] for r in out}
    assert nearest[0] == 1 and nearest[1] == 0 and nearest[2] == 1


def test_island_centroid_spawn(spark):
    pts = spark.createDataFrame(
        [(0, 0.0, 0.0, 0.0), (1, 2.0, 0.0, 0.0), (2, 4.0, 0.0, 0.0)],
        ["sample_id", "x", "y", "z"],
    )
    comp = spark.createDataFrame([(0, 0), (1, 0), (2, 0)], ["id", "component"])
    out = graph.island_centroid_spawn(pts, comp).collect()[0]
    assert out["centroid_x"] == pytest.approx(2.0)
    assert out["spawn_id"] == 1  # point at x=2 is closest to centroid


def test_star_cc_matches_min_label(spark):
    """The default (star) kernel == the min-label cross-check on random
    graphs — roles reversed since the star kernel became the default."""
    import random

    from ref_graph import connected_components_minlabel

    from worlddatapipeline_spark.operators.graph import connected_components

    for seed in (3, 17):
        rng = random.Random(seed)
        n = 40
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(35)]
        edges = [(a, b) for a, b in edges if a != b]
        edf = spark.createDataFrame(edges, "src long, dst long")
        vdf = spark.createDataFrame([(i,) for i in range(n)], "id long")
        a = {r["id"]: r["component"]
             for r in connected_components(edf, vdf).collect()}
        b = {r["id"]: r["component"]
             for r in connected_components_minlabel(edf, vdf).collect()}
        assert a == b


def test_star_cc_long_chain(spark):
    """A path graph (worst case for per-hop propagation) resolves to one
    component with the minimum id as root."""
    from worlddatapipeline_spark.operators.graph import connected_components

    chain = [(i, i + 1) for i in range(30)]
    edf = spark.createDataFrame(chain, "src long, dst long")
    out = connected_components(edf).collect()
    assert len(out) == 31
    assert {r["component"] for r in out} == {0}


def test_pagerank_sums_to_one_and_ranks_hub(spark):
    from worlddatapipeline_spark.operators.graph import pagerank

    # star: 1 at the center of 2,3,4 (symmetrized -> no dangling)
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 1), (1, 4), (4, 1)], ["src", "dst"]
    )
    rows = {r["node"]: r["pr"] for r in pagerank(edges, n_iter=10).collect()}
    assert abs(sum(rows.values()) - 1.0) < 1e-9
    assert rows[1] > rows[2] == rows[3] == rows[4]


def test_pagerank_rejects_dangling(spark):
    import pytest
    from worlddatapipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])  # 2 dangles
    with pytest.raises(ValueError, match="dangling"):
        pagerank(edges)


def test_bfs_hops_path_graph(spark):
    from worlddatapipeline_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 beyond cap, 10/11 unreachable


def test_bfs_frontier_stops_when_exhausted(spark):
    from worlddatapipeline_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=50).collect()}
    assert got == {1: 0, 2: 1}


def test_star_cc_no_vertex_frame_extraction(spark):
    """With vertices=None the component map reads directly off the
    converged star forest (members + roots) — same answer as the explicit
    vertex-frame path restricted to non-isolated nodes."""
    from worlddatapipeline_spark.operators.graph import connected_components

    edges = [(1, 2), (2, 3), (7, 8), (10, 11), (11, 12), (12, 13)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r["doc_id"]: r["component"]
           for r in connected_components(
               edf, src="src", dst="dst", id_col="doc_id").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 10: 10, 11: 10, 12: 10, 13: 10}


def test_star_cc_exact_probe_runs_once(spark, monkeypatch):
    """The fingerprint fast-path must gate the 3-shuffle exact exceptAll
    probe to the TERMINAL round only — not every round (VERDICT r3 #5)."""
    from worlddatapipeline_spark.operators.graph import connected_components

    edges = [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (5, 6)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    # patch the CONCRETE DataFrame class (Spark 4's classic subclass
    # overrides the base-class method, so patching pyspark.sql.DataFrame
    # would never intercept)
    cls = type(edf)
    calls = []
    orig = cls.exceptAll

    def spy(self, other):
        calls.append(1)
        return orig(self, other)

    monkeypatch.setattr(cls, "exceptAll", spy)
    out = connected_components(edf, src="src", dst="dst").count()
    assert out == 40  # every node of the 20 pair-edges gets a component
    # exactly one fused probe = two exceptAll directions, on the round
    # whose fingerprint matched; every earlier round skipped it
    assert len(calls) == 2, calls


def test_k_core_peeling(spark):
    """Known 3-core: a K4 clique survives; a pendant chain and a triangle
    hanging off it peel away entirely."""
    from worlddatapipeline_spark.operators.graph import k_core

    edges = [
        # K4 on 1-4 (3-core)
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        # triangle 5-6-7 attached at 4 (2-core only)
        (4, 5), (5, 6), (6, 7), (7, 5),
        # pendant chain
        (7, 8), (8, 9),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    core = {r["node"]: r["degree"] for r in k_core(df, k=3).collect()}
    assert set(core) == {1, 2, 3, 4}
    assert all(d == 3 for d in core.values())
    # k=2 keeps the triangle but still drops the chain
    core2 = {r["node"] for r in k_core(df, k=2).collect()}
    assert core2 == {1, 2, 3, 4, 5, 6, 7}
    # k above the densest structure -> empty
    assert k_core(df, k=4).count() == 0


def test_star_cc_raises_on_max_iter_exhaustion(spark):
    """An exhausted round budget must raise, not silently read components
    off a non-star edge set (the under-merge the kernel's docstring rules
    out; ADVICE r5).  max_iter=0 forces the exhaustion path."""
    from worlddatapipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=0).collect()
