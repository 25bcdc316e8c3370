"""Reference connected-components kernel, kept as a differential-test oracle.

The engine's ``operators/graph.py::connected_components`` is the
large-star / small-star kernel.  Min-label propagation below is the
independent formulation it is pinned against on random graphs
(``tests/test_graph.py::test_star_cc_matches_min_label``).  It needs
O(diameter) rounds, so a bounded ``max_iter`` silently under-merges a
long-diameter graph — one reason it is not the engine kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components_minlabel(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via iterative min-label propagation:
    label(v) ← min(label(v), min over neighbours(label(u))) until stable —
    the data-parallel form of the reference's BFS island detection
    (`navmesh_connectivity.py:158-180`).

    Returns (id, component) where component = min vertex id in the component.
    Undirected: edges are symmetrized internally.
    """
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
    )
    if vertices is None:
        verts = sym.select(F.col("s").alias(id_col)).distinct()
    else:
        verts = vertices.select(F.col(id_col)).distinct()
    labels = verts.select(F.col(id_col), F.col(id_col).alias("component"))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iter):
        # neighbour minimum label
        nbr_min = (
            sym.join(labels, sym["d"] == labels[id_col])
            .groupBy(F.col("s").alias(id_col))
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(nbr_min, id_col, "left")
            .select(
                id_col,
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), id_col)
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels
