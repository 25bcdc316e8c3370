"""Graph operators: KNN graph construction + connected components.

Reference analog: NavMesh connectivity analysis
(`navmesh_connectivity.py:19-233`) — sample points, KNN(k=8) candidate edges,
BFS islands, island-ratio filter, spawn-point selection (SURVEY.md §2.9).

Spark design: connected components as alternating large-star / small-star
rounds over DataFrames (no GraphFrames dependency — it is not baked into
this environment).  Each round is pure joins + aggregates;
``localCheckpoint`` truncates lineage so the loop does not re-execute
history, and convergence is O(log² n) rounds regardless of graph diameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .joins import top_k_per_group
from .windows import dist3


def knn_edges(
    points: DataFrame,
    k: int,
    group_cols: list[str] | None = None,
    id_col: str = "sample_id",
    pos_cols: tuple[str, str, str] = ("x", "y", "z"),
) -> DataFrame:
    """k-nearest-neighbour candidate edges per group.

    Reference analog: `navmesh_connectivity.py:126-135` (all-pairs python
    loop).  Self cross-join within group + ranking window; at reference N
    (≤200 samples/map) exact is right; at corpus scale swap in the LSH
    bucketing from similarity.py (same interface, approximate).
    Returns (group…, src, dst, dist) with rank ≤ k.
    """
    group_cols = group_cols or []
    if not group_cols:
        # Ungrouped all-pairs is O(n²) rows — fine for the reference's ≤200
        # samples, a cluster-killer on a large table.  Refuse loudly rather
        # than silently planning a quadratic join; callers with a genuinely
        # small ungrouped set can pass a constant group column.
        raise ValueError(
            "knn_edges without group_cols builds an O(n^2) all-pairs join; "
            "group the points (or use similarity.lsh_topk for corpus-scale "
            "ANN). Pass group_cols=[lit-constant column] to override for a "
            "provably small set."
        )
    x, y, z = pos_cols
    a = points.alias("a")
    b = points.alias("b")
    cond = F.col(f"a.{id_col}") != F.col(f"b.{id_col}")
    for g in group_cols:
        cond = cond & (F.col(f"a.{g}") == F.col(f"b.{g}"))
    pairs = a.join(b, cond).select(
        *[F.col(f"a.{g}").alias(g) for g in group_cols],
        F.col(f"a.{id_col}").alias("src"),
        F.col(f"b.{id_col}").alias("dst"),
        dist3(
            F.col(f"a.{x}"), F.col(f"a.{y}"), F.col(f"a.{z}"),
            F.col(f"b.{x}"), F.col(f"b.{y}"), F.col(f"b.{z}"),
        ).alias("dist"),
    )
    return top_k_per_group(
        pairs, [*group_cols, "src"], [F.col("dist").asc(), F.col("dst").asc()], k
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components — the engine's one kernel: alternating
    large-star / small-star rounds (Kiveris et al., "Connected Components
    in MapReduce and Beyond").  Convergence is O(log² n) rounds regardless
    of diameter, so a bounded ``max_iter`` cannot silently under-merge the
    way per-hop min-label propagation does on long-diameter graphs
    (SCALE.md's measured crossover has star at or below min-label wall
    time at every point).  Min-label propagation survives only as the
    test oracle ``tests/ref_graph.py::connected_components_minlabel``.

    Each round is two edge transforms (pure joins + groupBy.min — no Python):
    - large-star: every neighbour v > u links to m(u) = min(N(u) ∪ {u})
    - small-star: every neighbour v <= u (and u itself) links to m(u)
    Fixpoint when the edge multiset stops changing; afterwards every node's
    minimum neighbour IS its component root.

    Returns (id, component) where component = min vertex id in the
    component.  Undirected: edges are symmetrized internally.
    """
    def _canon(df: DataFrame) -> DataFrame:
        # undirected pair set, canonical orientation (x < y), no self-loops
        return (
            df.select(F.least("x", "y").alias("x"), F.greatest("x", "y").alias("y"))
            .filter(F.col("x") != F.col("y"))
            .distinct()
        )

    e = _canon(
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
    ).localCheckpoint(eager=True)

    def _sig(df: DataFrame) -> tuple:
        # order-insensitive multiset fingerprint of the (distinct) edge set:
        # one partial-agg job over a checkpointed frame, no shuffle — the
        # cheap convergence pre-probe
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            # modulo keeps the ANSI-mode sum overflow-free at any edge
            # count; a collision only costs one extra (exact) probe
            F.sum(F.xxhash64("x", "y") % F.lit(1_000_000_007)).alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    sig = _sig(e)
    converged = False
    for _ in range(max_iter):
        # large-star: node u sees its FULL neighbourhood; every larger
        # neighbour links to m(u) = min(N(u) ∪ {u})
        sym = e.select(F.col("x").alias("u"), F.col("y").alias("v")).unionByName(
            e.select(F.col("y").alias("u"), F.col("x").alias("v"))
        )
        m = (
            sym.unionByName(sym.select("u", F.col("u").alias("v")).distinct())
            .groupBy("u")
            .agg(F.min("v").alias("m"))
        )
        e1 = _canon(
            sym.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
        )
        # small-star: node u sees only SMALLER neighbours; they (and u) link
        # to the minimum of that set
        directed = e1.select(F.col("y").alias("u"), F.col("x").alias("v"))
        m1 = directed.groupBy("u").agg(F.min("v").alias("m"))
        e2 = _canon(
            directed.join(m1, "u")
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
            .unionByName(m1.select(F.col("u").alias("x"), F.col("m").alias("y")))
        ).localCheckpoint(eager=True)
        # two-tier convergence probe — the per-round job count dominates
        # wall time on small pair sets, and each saved job is a scheduler
        # round-trip:
        #   1. (count, sum-of-hash) fingerprints: one shuffle-free agg job
        #      per round (the previous round's fingerprint is remembered).
        #      Different fingerprints prove non-convergence with no
        #      exceptAll work;
        #   2. only on a fingerprint MATCH, confirm exactly with the fused
        #      two-direction exceptAll — so the 3-shuffle exact probe runs
        #      once, on the terminal round, instead of every round.
        sig2 = _sig(e2)
        if sig2 == sig:
            diff = (
                e2.exceptAll(e)
                .unionByName(e.exceptAll(e2))
                .limit(1)
                .count()
            )
            if diff == 0:
                e = e2
                converged = True
                break
        sig = sig2
        e = e2
    if not converged:
        # The read-off below is only valid on a converged star forest; an
        # exhausted round budget would otherwise silently under-merge —
        # exactly the failure mode this kernel exists to rule out.
        # Unreachable in practice (O(log² n) rounds vs max_iter=30), but
        # the safety claim must be enforced, not assumed.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )

    # Converged state is a star forest in canonical (root < member) form, so
    # components read off directly: members (y) take their minimum root,
    # roots (x) keep themselves — no join back to a separately-derived
    # vertex frame.  The explicit-vertices path still joins (isolated
    # vertices must keep themselves).
    roots = e.groupBy(F.col("y").alias(id_col)).agg(F.min("x").alias("component"))
    if vertices is None:
        selves = e.select(F.col("x").alias(id_col)).distinct()
        return roots.unionByName(
            selves.join(roots, id_col, "left_anti").select(
                id_col, F.col(id_col).alias("component")
            )
        )
    verts = vertices.select(F.col(id_col)).distinct()
    return verts.join(roots, id_col, "left").select(
        id_col,
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    )


def island_stats(
    components: DataFrame,
    min_ratio: float = 0.10,
    id_col: str = "id",
) -> DataFrame:
    """Island sizes/ratios with the ≥ min_ratio filter and largest-island
    fallback (`navmesh_connectivity.py:182-201`).

    Returns (component, size, ratio, selected) — ``selected`` true for
    islands passing the ratio bar, or for the single largest island if none
    pass.
    """
    sizes = components.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    total = components.count()
    sized = sizes.withColumn("ratio", F.col("size") / F.lit(float(total)))
    max_size = sized.agg(F.max("size")).collect()[0][0]
    any_pass = sized.filter(F.col("ratio") >= min_ratio).limit(1).count() > 0
    if any_pass:
        return sized.withColumn("selected", F.col("ratio") >= min_ratio)
    return sized.withColumn("selected", F.col("size") == F.lit(max_size))


def island_centroid_spawn(
    points: DataFrame,
    components: DataFrame,
    id_col: str = "sample_id",
    pos_cols: tuple[str, str, str] = ("x", "y", "z"),
) -> DataFrame:
    """Per-island centroid + the sample point closest to it (min_by) —
    the 'center' spawn strategy (`navmesh_connectivity.py:236-269`)."""
    x, y, z = pos_cols
    joined = points.join(components.withColumnRenamed("id", id_col), id_col)
    cent = joined.groupBy("component").agg(
        F.avg(x).alias("cx"), F.avg(y).alias("cy"), F.avg(z).alias("cz")
    )
    back = joined.join(cent, "component")
    d = dist3(F.col(x), F.col(y), F.col(z), F.col("cx"), F.col("cy"), F.col("cz"))
    return back.groupBy("component").agg(
        F.first("cx").alias("centroid_x"),
        F.first("cy").alias("centroid_y"),
        F.first("cz").alias("centroid_z"),
        F.min_by(F.col(id_col), d).alias("spawn_id"),
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank power method over a directed edge list.

    Each iteration is one join + one aggregate — the standard data-parallel
    formulation (contributions shuffle on dst; partial aggregation combines
    map-side).  ``localCheckpoint`` per iteration truncates lineage exactly
    like connected_components; iterations are FIXED (not convergence-tested)
    so the result is a deterministic function of (edges, n_iter, damping)
    and can be restated as chained SQL CTEs by an oracle.

    Requires every node to have outdegree >= 1 (symmetrize the edge list
    for undirected graphs and this holds by construction); raises otherwise
    rather than silently leaking rank mass from dangling nodes.  At 100 TB
    scale, pre-partition edges by dst so the per-iteration shuffle reuses
    the same exchange, and raise checkpoint cadence.
    """
    # e and outdeg are loop-invariant: checkpoint them once so the five
    # contrib plans read materialized edges instead of re-executing the
    # upstream derivation (scan -> filter -> distinct) per iteration.
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    dangling = (
        nodes.join(e.select(F.col("s").alias("node")).distinct(), "node", "left_anti")
        .limit(1)
        .count()
    )
    if dangling:
        raise ValueError(
            "pagerank: graph has dangling nodes (outdegree 0); symmetrize "
            "the edge list or add self-loops before calling."
        )
    outdeg = (
        e.groupBy(F.col("s").alias("node"))
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint(eager=True)
    )
    pr = nodes.select("node", (F.lit(1.0) / n).alias("pr")).localCheckpoint(
        eager=True
    )
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        contrib = (
            e.join(pr, e["s"] == pr["node"])
            .join(outdeg, pr["node"] == outdeg["node"])
            .select(
                F.col("d").alias("node"),
                (F.col("pr") / F.col("outdeg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("csum"))
        )
        pr = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("csum"), F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return pr


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "node",
) -> DataFrame:
    """Minimum hop count from a seed set, frontier BFS, undirected.

    Classic data-parallel BFS: the frontier joins the (symmetrized) edge
    list, newly reached nodes join the visited set at hops+1, repeat
    ``max_hops`` times or until the frontier empties.  Each iteration
    shuffles only the CURRENT frontier against edges (anti-join drops
    visited nodes before the next expansion), so per-iteration cost is
    proportional to the frontier's edge boundary — the shape that holds on
    billion-edge graphs.  Returns (node, hops) for every node within
    ``max_hops`` of any seed (seeds at hops 0).
    """
    # loop-invariant: materialize the symmetrized edge list once so each
    # hop's frontier join reads it instead of re-running the
    # symmetrize+distinct — per-iteration cost then really is
    # proportional to the frontier's edge boundary.
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    visited = (
        seeds.select(F.col(id_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("hops"))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for depth in range(1, max_hops + 1):
        reached = (
            sym.join(frontier, sym["s"] == frontier["node"])
            .select(F.col("d").alias("node"))
            .distinct()
        )
        new_front = (
            reached.join(visited, "node", "left_anti")
            .select("node", F.lit(depth).cast("long").alias("hops"))
            .localCheckpoint(eager=True)
        )
        if new_front.limit(1).count() == 0:
            break
        visited = visited.unionByName(new_front).localCheckpoint(eager=True)
        frontier = new_front
    return visited


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
    assume_undirected_canonical: bool = False,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly drop nodes of
    degree < k until a fixpoint; what survives is the unique maximal
    subgraph in which every node keeps >= k neighbors (the standard
    community-density primitive next to CC/PageRank/triangles).

    Job-count discipline (VERDICT r5 item 7 — this was the registry's most
    scheduler-sensitive query): the old loop materialized every peel round
    TWICE — once under the `keep.count()` convergence probe and once under
    the localCheckpoint — so each round paid the degree-aggregate and
    semi-join stages two times.  This form materializes each pass exactly
    once (the eager localCheckpoint), one peel step per pass, and probes
    convergence with an EDGE count over the already-checkpointed blocks —
    one trivial shuffle-free job, because edge-count fixpoint ⟺ node
    fixpoint (every node present in the edge list has degree >= 1, so any
    dropped node removes at least one edge).  Measured on the sf0.01
    contract graph, one step per pass + the seeded probe is the job-count
    floor: under AQE each peel step is its own stage-job chain whether or
    not it shares a materialization.  ``max_iter`` counts passes and
    raises rather than silently returning a non-fixpoint.

    Input edges are treated as UNDIRECTED (symmetrized + dedup'd here) —
    unless ``assume_undirected_canonical`` is set, in which case the
    caller asserts the input is already symmetric, distinct, and
    self-loop-free and the init skips the symmetrize-distinct shuffle
    (callers that hold a canonical frame anyway, e.g. the contract query,
    save its whole stage chain).
    Returns (node, degree) of the k-core, degree measured INSIDE the core.
    """
    fwd = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    # The symmetric edge list is hash-partitioned by "s" ONCE up front and
    # every pass reuses that partitioning: the degree aggregate and the
    # s-side semi-join are exchange-free, and the d-side filter rides the
    # symmetry — swapping a symmetric set's columns yields the same set,
    # so filtering the SWAPPED frame on s∈keep applies the d∈keep
    # condition while its exchange re-establishes the s-partitioning for
    # the next pass.  Net: ONE shuffle per peel step instead of three —
    # the partitioning-reuse discipline that matters at 100 TB as much as
    # it cuts scheduler round-trips here.
    if assume_undirected_canonical:
        e = fwd.repartition(F.col("s")).localCheckpoint(eager=True)
    else:
        e = (
            fwd.unionByName(
                fwd.select(F.col("d").alias("s"), F.col("s").alias("d"))
            )
            .filter(F.col("s") != F.col("d"))
            .distinct()
            .repartition(F.col("s"))
            .localCheckpoint(eager=True)
        )

    def _peel_once(cur: DataFrame) -> DataFrame:
        deg = cur.groupBy("s").agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("s")
        kept = cur.join(keep, "s", "left_semi")
        return kept.select(
            F.col("d").alias("s"), F.col("s").alias("d")
        ).join(keep, "s", "left_semi")

    # Seeding the probe with the INPUT edge count (a shuffle-free job on
    # the checkpointed blocks) lets an already-peeled graph — the common
    # case for a dense fact-table projection — converge in ONE pass
    # instead of paying a second full confirming pass.
    prev_edges = e.count()
    for _ in range(max_iter):
        e = _peel_once(e).localCheckpoint(eager=True)
        n_edges = e.count()
        if n_edges == prev_edges or n_edges == 0:
            break
        prev_edges = n_edges
    else:
        raise RuntimeError(f"k_core did not converge in {max_iter} passes")
    # At the fixpoint every surviving node keeps degree >= k by
    # construction; the filter only re-states the contract (and returns
    # the empty frame when the core is empty).
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("degree"))
    return deg.filter(F.col("degree") >= k).select(
        F.col("s").alias("node"), "degree"
    )
