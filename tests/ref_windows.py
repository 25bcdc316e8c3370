"""Reference arc-length resample, kept as a differential-test oracle.

The engine resamples in one window pass per sequence
(``operators/windows.py::arc_length_resample``): each segment explodes only
its candidate grid indices.  The grid ⋈ segment band join below, which
pairs every grid point with every segment of its sequence, is the
formulation it is pinned against row for row
(``tests/test_windows.py::test_arc_length_resample_one_pass_matches_join_form``).
Both use the same target, match predicate and lerp, so their rows must be
identical, not merely close.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from worlddatapipeline_spark.operators.joins import top_k_per_group
from worlddatapipeline_spark.operators.windows import cumulative_distance


def arc_length_resample_join(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    n_points: int,
    pos_cols=("x", "y", "z"),
) -> DataFrame:
    """Resample each sequence's polyline to ``n_points`` points equally
    spaced in arc length: a grid of ``d_k = k * L/(N-1)`` per sequence,
    joined to the sequence's segments and matched by the band predicate."""
    x, y, z = pos_cols
    cum = cumulative_distance(df, seq_col, order_col, pos_cols, "__cum")
    w = Window.partitionBy(seq_col).orderBy(order_col)
    seg = cum.select(
        seq_col,
        F.col("__cum").alias("d0"),
        F.lead("__cum").over(w).alias("d1"),
        F.row_number().over(w).alias("__segno"),
        *[F.col(c).alias(f"{c}0") for c in (x, y, z)],
        *[F.lead(c).over(w).alias(f"{c}1") for c in (x, y, z)],
    ).filter(F.col("d1").isNotNull())
    total = cum.groupBy(seq_col).agg(F.max("__cum").alias("L"))
    n = F.lit(n_points)
    grid = total.select(
        seq_col,
        "L",
        (n - 1).alias("last_k"),
        F.explode(F.sequence(F.lit(0), n - 1)).alias("k"),
    ).withColumn("target_d", F.col("k") * F.col("L") / (n - 1))
    g, s = grid.alias("g"), seg.alias("s")
    j = g.join(
        s,
        (F.col(f"g.{seq_col}") == F.col(f"s.{seq_col}"))
        & (
            (
                (F.col("g.target_d") >= F.col("s.d0"))
                & (
                    (F.col("g.target_d") < F.col("s.d1"))
                    | (
                        (F.col("g.k") == F.col("g.last_k"))
                        & (F.col("s.d1") == F.col("g.L"))
                        & (F.col("s.d0") < F.col("s.d1"))
                    )
                )
            )
            | ((F.col("g.L") == 0.0) & (F.col("s.__segno") == 1))
        ),
        "inner",
    )
    t = F.when(
        F.col("s.d1") > F.col("s.d0"),
        (F.col("g.target_d") - F.col("s.d0")) / (F.col("s.d1") - F.col("s.d0")),
    ).otherwise(F.lit(0.0))
    out = j.select(
        F.col(f"g.{seq_col}").alias(seq_col),
        F.col("g.k").alias("k"),
        F.col("g.target_d").alias("target_d"),
        *[
            (F.col(f"s.{c}0") + t * (F.col(f"s.{c}1") - F.col(f"s.{c}0"))).alias(c)
            for c in (x, y, z)
        ],
    )
    return top_k_per_group(out, [seq_col, "k"], [F.col("target_d")], 1)
