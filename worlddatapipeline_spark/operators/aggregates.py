"""Aggregation operators (SURVEY.md §2.4, §2.6).

Re-expresses the reference's hand-looped aggregations as single declarative
Spark aggregations, which gives map-side partial aggregation (combiner) and
whole-stage codegen for free:

- catalog statistics with conditional counts (`scene_registry.py:566-605`),
- AABB / min-max bounds (`navmesh_injector.py:514-566`),
- density-grid mode + Z-histogram mode (`navmesh_injector.py:342-390,623-681`),
- terrain classification ratio (`navmesh_injector.py:324-340`),
- argmax / min-by selections (`navmesh_connectivity.py:185-201,261`).

All are pure Column expressions — no UDFs, fully codegen'd; at 100 TB each is
one shuffle (or zero for the global aggregates, which reduce map-side first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import literal_frame


def conditional_stats(df: DataFrame, specs: dict[str, "F.Column"]) -> DataFrame:
    """One-row statistics frame from named aggregate expressions.

    Reference analog: ``get_statistics`` (`scene_registry.py:566-605`) —
    COUNT(*), COUNT(CASE WHEN …), SUM(...) computed in one pass.
    """
    return df.agg(*[expr.alias(name) for name, expr in specs.items()])


def count_when(cond) -> "F.Column":
    """COUNT(CASE WHEN cond THEN 1 END) — the reference's conditional count
    idiom (`scene_registry.py:571-585`)."""
    return F.count(F.when(cond, F.lit(1)))


def aabb(
    df: DataFrame,
    group_cols: list[str],
    origin_cols: tuple[str, str, str] = ("origin_x", "origin_y", "origin_z"),
    extent_cols: tuple[str, str, str] = ("extent_x", "extent_y", "extent_z"),
) -> DataFrame:
    """Axis-aligned bounding box per group: min(origin-extent), max(origin+extent).

    Reference analog: `navmesh_injector.py:514-566` (python loop over actors).
    """
    aggs = []
    for axis, (o, e) in zip("xyz", zip(origin_cols, extent_cols)):
        aggs.append(F.min(F.col(o) - F.col(e)).alias(f"min_{axis}"))
        aggs.append(F.max(F.col(o) + F.col(e)).alias(f"max_{axis}"))
    return df.groupBy(*group_cols).agg(*aggs)


def grid_mode(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    cell_size: float,
) -> DataFrame:
    """Densest 2-D grid cell per group and its center.

    Reference analog: density-grid scene-center detection with 50 m cells
    (`navmesh_injector.py:342-390`).  Two-stage aggregation: cell counts, then
    ``max_by`` per group — both shuffle on the (small) group key only.
    """
    cx, cy = F.floor(F.col(x_col) / cell_size), F.floor(F.col(y_col) / cell_size)
    cells = df.groupBy(*group_cols, cx.alias("__cx"), cy.alias("__cy")).agg(
        F.count(F.lit(1)).alias("cell_count")
    )
    best = cells.groupBy(*group_cols).agg(
        F.max_by(F.struct("__cx", "__cy", "cell_count"), F.struct("cell_count", "__cx", "__cy")).alias("b")
    )
    return best.select(
        *group_cols,
        ((F.col("b.__cx") + 0.5) * cell_size).alias("center_x"),
        ((F.col("b.__cy") + 0.5) * cell_size).alias("center_y"),
        F.col("b.cell_count").alias("cell_count"),
    )


def histogram_mode(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    bucket_size: float,
) -> DataFrame:
    """Mean of the densest 1-D bucket per group (mode of a histogram).

    Reference analog: dominant ground-plane Z via 50 cm buckets
    (`navmesh_injector.py:623-681`).  Deterministic tiebreak on bucket index.
    """
    b = F.floor(F.col(value_col) / bucket_size)
    buckets = df.groupBy(*group_cols, b.alias("__b")).agg(
        F.count(F.lit(1)).alias("n"), F.avg(value_col).alias("mean_value")
    )
    best = buckets.groupBy(*group_cols).agg(
        F.max_by(F.struct("n", "mean_value", "__b"), F.struct("n", "__b")).alias("bb")
    )
    return best.select(
        *group_cols,
        F.col("bb.__b").alias("bucket"),
        F.col("bb.n").alias("bucket_count"),
        F.col("bb.mean_value").alias("mode_mean"),
    )


def ratio_classify(
    df: DataFrame,
    group_cols: list[str],
    cond,
    threshold: float,
    label_true: str,
    label_false: str,
    ratio_name: str = "ratio",
    label_name: str = "label",
) -> DataFrame:
    """Fraction of rows satisfying ``cond`` per group + threshold label.

    Reference analog: terrain "Plain"/"Valley" classification by the fraction
    of actors above ground (`navmesh_injector.py:324-340`).
    """
    ratio = F.avg(F.when(cond, 1.0).otherwise(0.0))
    out = df.groupBy(*group_cols).agg(ratio.alias(ratio_name))
    return out.withColumn(
        label_name,
        F.when(F.col(ratio_name) > threshold, label_true).otherwise(label_false),
    )


def argmax(df: DataFrame, group_cols: list[str], value_col, payload_cols: list[str]) -> DataFrame:
    """Row payload at the max of ``value_col`` per group (``max_by``).

    Reference analog: largest island selection (`navmesh_connectivity.py:198-201`).
    """
    return df.groupBy(*group_cols).agg(
        F.max(value_col).alias(f"max_{value_col}"),
        *[F.max_by(c, value_col).alias(c) for c in payload_cols],
    )


def salted_sum(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    out_col: str,
    n_salts: int = 32,
) -> DataFrame:
    """Skew-safe two-phase sum: explicit salting of the grouping key.

    Phase 1 groups by ``(key, salt)`` where salt is a deterministic hash of
    the row's remaining identity, spreading a hot key over ``n_salts``
    reducers; phase 2 sums the partials per key.  For algebraic aggregates
    Spark's map-side combine usually makes this unnecessary, but it matters
    when (a) per-key combiner state is large (holistic aggregates,
    collect_list) or (b) one key dominates so a single reducer's combine
    output is still huge.  Same final values as a plain groupBy — the bench
    oracle checks that.

    Reference analog: batch success counters over a skewed status column
    (`batch_bake.py:285-359`) — single-threaded there, one hot reducer here
    without salting.
    """
    salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*group_cols, "_salt")
        .agg(F.sum(value_col).alias("_partial"))
    )
    return partial.groupBy(*group_cols).agg(F.sum("_partial").alias(out_col))


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    minimize_x: bool = True,
    maximize_y: bool = True,
) -> DataFrame:
    """Pareto frontier (skyline) over two numeric criteria.

    A row survives iff no other row is at-least-as-good on BOTH axes and
    strictly better on at least one (standard skyline dominance; exact
    ties on both axes all survive — neither strictly beats the other).
    Direction flags normalize both axes to "bigger is better" by negation
    so all four quadrant combinations share one code path.

    Spark-first two-pass plan (the partial/merge shape every global top-k
    uses):

    1. LOCAL conservative prune, ZERO shuffle: one vectorized Arrow pass
       per scan batch (numpy lexsort x-desc/y-desc + running-max filter)
       drops rows whose prior running-max y strictly exceeds their own —
       such a prior row is at-least-as-good on x and strictly better on y.
       Strictness makes the prune duplicate-safe (a twin never evicts its
       copy); survivors are a superset of the global frontier, and
       frontiers are tiny relative to their input (O(sqrt n) expected
       under independent axes).  A window keyed by spark_partition_id
       would compute the same thing but plans an Exchange on the id —
       a full shuffle of the corpus; the Arrow pass is scan-local.
       Project down to the columns you need first: the whole row crosses
       the Arrow boundary.

    2. EXACT merge on the remnant: the distinct (x, y) pairs — small by
       construction — pass through one sorted scan in ONE task, where on
       distinct pairs the test ``prior running-max y >= y`` is exactly
       dominance (the prior row is strictly better on x, or same-x
       strictly better on y).  Surviving pairs broadcast-semi-join back
       to the remnant, so duplicate frontier rows are all kept.

    The only exchanges are the remnant-sized distinct + single-task window
    and the broadcast of surviving pairs.
    """
    import numpy as np
    from pyspark.sql.functions import broadcast

    sx = F.col(x_col) * F.lit(-1 if minimize_x else 1)
    sy = F.col(y_col) * F.lit(1 if maximize_y else -1)
    # NULL/NaN coordinates are incomparable under dominance and would
    # poison the numpy running max (NaN >= x is always False, silently
    # dropping true frontier rows) — exclude them up front, same contract
    # as merge_intervals' NULL-bounds filter.
    valid = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    for c, col in ((x_col, df.schema[x_col]), (y_col, df.schema[y_col])):
        if col.dataType.simpleString() in ("float", "double"):
            valid = valid & ~F.isnan(F.col(c))
    staged = df.filter(valid).withColumn("__sx", sx).withColumn("__sy", sy)

    def local_prune(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            bsx = pdf["__sx"].to_numpy()
            bsy = pdf["__sy"].to_numpy()
            order = np.lexsort((-bsy, -bsx))  # primary: sx desc, then sy desc
            sy_sorted = bsy[order]
            run = np.maximum.accumulate(sy_sorted)
            keep_sorted = np.empty(n, dtype=bool)
            keep_sorted[0] = True
            keep_sorted[1:] = sy_sorted[1:] >= run[:-1]  # drop only strict
            yield pdf.iloc[np.sort(order[keep_sorted])]

    # Barrier: the remnant is read by the frontier build (distinct +
    # window) and by the semi-join probe, which share no exchange, so the
    # lazy plan runs the scan + Python prune twice (A/B: lazy 1.13×).
    # Cache-cheap by construction (it is the pruned survivors).
    from ..session import materialize_and_release  # noqa: PLC0415

    remnant = staged.mapInPandas(local_prune, staged.schema).persist()

    w_glob = (
        Window.orderBy(F.col("__sx").desc(), F.col("__sy").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier_pairs = (
        remnant.select("__sx", "__sy")
        .distinct()
        .withColumn("__prior", F.max("__sy").over(w_glob))
        .filter(F.col("__prior").isNull() | (F.col("__prior") < F.col("__sy")))
        .select("__sx", "__sy")
    )
    out = remnant.join(
        broadcast(frontier_pairs), ["__sx", "__sy"], "left_semi"
    ).drop("__sx", "__sy")
    return materialize_and_release(out, remnant)


def exact_percentiles_distributed(
    df: DataFrame,
    value_col: str,
    ps: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Exact percentiles BIT-IDENTICAL to ``F.percentile(value, ps)`` but
    without its holistic final step (guide §2.2/§5): Spark's exact
    ``percentile`` merges per-task value→count hashmaps and then SORTS the
    whole distinct-value set inside one aggregate evaluation per group —
    a single-threaded O(n log n) over generic objects that dominates the
    query as the table grows.  This form keeps every step distributed:

      1. (group, value) counts — an ordinary two-phase hash aggregate;
      2. range repartition by (group, value) + per-partition window
         cumsum — a DISTRIBUTED sort, each partition its own task;
      3. per-(partition, group) subtotals fetched to the driver (a
         bounded n_partitions × n_groups row collect, the same class as
         the curriculum boundary fetch) → global offsets broadcast back;
      4. the two bracketing ranks of each percentile located with a
         broadcast join, interpolated with EXACTLY Spark's formula
         ``(hi - pos) * v_lo + (pos - lo) * v_hi`` (the lo == hi case
         returns the value untouched).  The formula was pinned
         empirically against ``F.percentile`` (60/60 bit-equal random
         trials) and is guarded by a differential test.

    Returns one row per (group, p): ``group_cols…, p double, pct double``.
    NULL values are skipped exactly as ``percentile`` skips them; a group
    whose values are all NULL simply yields no rows (callers left-join).
    Group cardinality must be modest (it rides the driver fetch); the
    callers here have <= 5 groups or none.
    """
    import math  # noqa: PLC0415

    spark = df.sparkSession
    g = list(group_cols or [])
    vals = df.select(
        *g, F.col(value_col).cast("double").alias("_v")
    ).where(F.col("_v").isNotNull())
    cnts = vals.groupBy(*g, "_v").agg(F.count(F.lit(1)).alias("_c"))
    n_parts = spark.sparkContext.defaultParallelism
    parts = (
        cnts.repartitionByRange(n_parts, *g, "_v")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()  # pin the partitioning: the offsets fetched
        # below are only valid for THIS materialized layout
    )
    tot = parts.groupBy("_pid", *g).agg(F.sum("_c").alias("_t")).collect()
    # per-group totals and per-(pid, group) starting offsets
    n_per_group: dict[tuple, int] = {}
    for r in sorted(tot, key=lambda r: r["_pid"]):
        key = tuple(r[c] for c in g)
        n_per_group[key] = n_per_group.get(key, 0) + r["_t"]
    offs = []
    running: dict[tuple, int] = {}
    for r in sorted(tot, key=lambda r: r["_pid"]):
        key = tuple(r[c] for c in g)
        offs.append((r["_pid"], *key, running.get(key, 0)))
        running[key] = running.get(key, 0) + r["_t"]
    if not offs:
        return literal_frame(
            spark,
            [],
            parts.select(*g).schema.add("p", "double").add("pct", "double"),
        )
    off_df = literal_frame(
        spark, offs, parts.select("_pid", *g).schema.add("_off", "long")
    )
    w = Window.partitionBy("_pid", *g).orderBy("_v")
    # group keys join null-safe: a NULL key is a group of its own, as in
    # percentile's groupBy
    cl = parts.withColumn("_cl", F.sum("_c").over(w))
    cumf = (
        cl.join(
            F.broadcast(off_df),
            [cl["_pid"] == off_df["_pid"]]
            + [cl[c].eqNullSafe(off_df[c]) for c in g],
        )
        .select(cl["*"], off_df["_off"])
        .withColumn("_cum", F.col("_cl") + F.col("_off"))
        .withColumn("_prev", F.col("_cum") - F.col("_c"))
    )
    # bracketing ranks per (group, p): positions in Spark's own double
    # arithmetic (Python floats ARE IEEE doubles — identical products)
    rank_rows = []
    for key, n in n_per_group.items():
        for p in ps:
            pos = p * (n - 1)
            rank_rows.append(
                (*key, float(p), pos, int(math.floor(pos)),
                 int(math.ceil(pos)))
            )
    ranks = literal_frame(
        spark,
        rank_rows,
        parts.select(*g).schema.add("_p", "double").add("_pos", "double")
        .add("_lo", "long").add("_hi", "long"),
    )
    cond = [cumf[c].eqNullSafe(ranks[c]) for c in g] + [
        (
            (ranks["_lo"] >= cumf["_prev"]) & (ranks["_lo"] < cumf["_cum"])
        )
        | ((ranks["_hi"] >= cumf["_prev"]) & (ranks["_hi"] < cumf["_cum"]))
    ]
    j = cumf.join(F.broadcast(ranks), cond)
    hit_lo = (ranks["_lo"] >= cumf["_prev"]) & (ranks["_lo"] < cumf["_cum"])
    hit_hi = (ranks["_hi"] >= cumf["_prev"]) & (ranks["_hi"] < cumf["_cum"])
    per = j.groupBy(*[ranks[c] for c in g], "_p", "_pos", "_lo", "_hi").agg(
        F.max(F.when(hit_lo, cumf["_v"])).alias("_vlo"),
        F.max(F.when(hit_hi, cumf["_v"])).alias("_vhi"),
    )
    return per.select(
        *g,
        F.col("_p").alias("p"),
        F.when(F.col("_lo") == F.col("_hi"), F.col("_vlo"))
        .otherwise(
            (F.col("_hi") - F.col("_pos")) * F.col("_vlo")
            + (F.col("_pos") - F.col("_lo")) * F.col("_vhi")
        )
        .alias("pct"),
    )
