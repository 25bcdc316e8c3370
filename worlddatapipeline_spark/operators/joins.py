"""Join operators.

The reference performs every join as a Python dict/loop join (SURVEY.md §2.3);
these re-express them as scale-aware DataFrame joins:

- broadcast lookup joins for small dimensions
  (reference: `scene_scanner.py:225-239`, `batch_bake.py:112-131`),
- an **as-of (nearest/backward) join** replacing the nearest-keyframe channel
  sampling (`camera_exporter.py:221-232`),
- a **range/interval join** replacing the frame→behavior-segment dict expansion
  (`worker_create.py:720-730`),
- **top-k per group** via a ranking window, k=1 being first-occurrence
  dedup (`scene_copy.py:236-310`),
- **prefix (startswith) joins** (`run_render_job_headless.py:636-650`,
  `render_engine.py:87-158`).

Scale design: the as-of join is the union+last-over-window formulation — ONE
shuffle on the join key, no per-group pandas; the range join offers a bucketed
equi-join path so Spark never falls back to a broadcast-nested-loop join on
big interval tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def broadcast_lookup(
    fact: DataFrame, dim: DataFrame, on, how: str = "left"
) -> DataFrame:
    """Join a big fact table to a small dimension with an explicit broadcast.

    Reference analog: reverse lookup of a scene row by ``launch_directory``
    (`scene_scanner.py:225-239`) done per-row in Python; here one broadcast
    hash join, no shuffle of the fact side.
    """
    return fact.join(F.broadcast(dim), on, how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """As-of join: for each left row pick the right row with the greatest
    ``right_ts <= left_ts`` (backward) or smallest ``right_ts >= left_ts``
    (forward), per key ``on``.

    ``tolerance`` bounds how far back (backward) / ahead (forward) the
    match may sit: a left row whose nearest right row is MORE than
    ``tolerance`` away gets NULLs instead (pandas ``merge_asof`` semantics).
    Units: seconds when the axis is a datetime type, else the axis's own
    units.  Under a tolerance the carried values are wrapped in ONE struct
    with the right row's own timestamp, so the match is ATOMIC: the gate
    and every value column refer to the SAME nearest right row — a nearer
    right row whose value is NULL yields NULL (exact merge_asof), never a
    staler value sneaking past the gate (the independent-fill caveat below
    applies only to the tolerance-free path).  NULL-timestamp right rows
    are dropped (they cannot sit on the axis; merge_asof rejects NaT).
    Still the same single shuffle — the struct rides the same fill window.

    Reference analog: nearest-keyframe channel sampling
    (`camera_exporter.py:221-232`) — a per-frame linear scan over keys.

    Spark-first formulation (scales to billions of rows): union the two inputs
    tagged by side, then ``last(value, ignorenulls=True)`` over a window
    partitioned by key and ordered by time — a single shuffle on ``on``,
    no per-group pandas, no cross product.  ``merge_asof``-style per-group
    processing would force all of a key's history through one python worker;
    this stays in the JVM with whole-stage codegen.

    CAVEAT: each value column fills independently, so a right row whose
    value is legitimately NULL lets the previous non-null value show
    through.  If NULL is a meaningful payload (e.g. an open-interval
    end-date), wrap the carried columns in ONE struct so the match is
    atomic — validity_join below does exactly this.
    """
    lcols = left.columns
    tag = "__side"
    ts = "__ts"
    # Ordering key.  Three cases:
    # - both sides the same temporal/numeric type: natively orderable, keep
    #   as-is (TIMESTAMP_NTZ refuses a DOUBLE cast, so no blanket coercion).
    # - both sides in the datetime family but unequal (TIMESTAMP vs NTZ vs
    #   DATE): coerce both to TIMESTAMP — a double cast would fail for
    #   NTZ/DATE.
    # - anything else (mixed numeric axes, numeric strings): coerce to
    #   double so '9' < '10' orders numerically, not lexicographically.
    from pyspark.sql.types import (
        DateType,
        NumericType,
        TimestampNTZType,
        TimestampType,
    )

    lt = left.schema[left_ts].dataType
    rt = right.schema[right_ts].dataType
    _datetime_family = (DateType, TimestampType, TimestampNTZType)
    if lt == rt and isinstance(lt, _datetime_family + (NumericType,)):
        l_ts_expr = F.col(left_ts)
        r_ts_expr = F.col(right_ts)
        axis_type, axis_datetime = rt, isinstance(rt, _datetime_family)
    elif isinstance(lt, _datetime_family) and isinstance(rt, _datetime_family):
        l_ts_expr = F.col(left_ts).cast("timestamp")
        r_ts_expr = F.col(right_ts).cast("timestamp")
        axis_type, axis_datetime = TimestampType(), True
    else:
        l_ts_expr = F.col(left_ts).cast("double")
        r_ts_expr = F.col(right_ts).cast("double")
        axis_type, axis_datetime = None, False
    # right rows carry the values; left rows carry nulls that get filled.
    # Under a tolerance the values AND the right row's own axis value ride
    # ONE struct, so the fill is atomic per matched row (a right row's
    # struct is never NULL — its ts field is non-null by the filter — so
    # last(ignorenulls) always picks the NEAREST right row, NULL payloads
    # included); without a tolerance the columns fill independently and
    # the plan is byte-identical to before the feature existed.
    if tolerance is not None:
        right = right.filter(r_ts_expr.isNotNull())
        pk_r = [
            F.struct(
                r_ts_expr.alias("__mt"),
                *[F.col(c).alias(f"__v_{c}") for c in value_cols],
            ).alias("__pk")
        ]
        pk_l_type = "struct<__mt:{},{}>".format(
            (axis_type.simpleString() if axis_type is not None else "double"),
            ",".join(
                f"__v_{c}:{right.schema[c].dataType.simpleString()}"
                for c in value_cols
            ),
        )
        pk_l = [F.lit(None).cast(pk_l_type).alias("__pk")]
        v_r, v_l = [], []
    else:
        pk_r, pk_l = [], []
        v_r = [F.col(c).alias(f"__v_{c}") for c in value_cols]
        v_l = [
            F.lit(None).cast(right.schema[c].dataType).alias(f"__v_{c}")
            for c in value_cols
        ]
    r = right.select(
        F.col(on).alias(on),
        r_ts_expr.alias(ts),
        F.lit(0).alias(tag),
        *v_r,
        *[F.lit(None).alias(f"__l_{c}") for c in lcols],
        *pk_r,
    )
    l = left.select(
        F.col(on).alias(on),
        l_ts_expr.alias(ts),
        F.lit(1).alias(tag),
        *v_l,
        *[F.col(c).alias(f"__l_{c}") for c in lcols],
        *pk_l,
    )
    if direction == "backward":
        # right row at time t is visible to left rows with ts >= t;
        # ties: right sorts before left (inclusive match)
        u = r.unionByName(l)
        w = (
            Window.partitionBy(on)
            .orderBy(F.col(ts).asc(), F.col(tag).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    elif direction == "forward":
        u = r.unionByName(l)
        w = (
            Window.partitionBy(on)
            .orderBy(F.col(ts).desc(), F.col(tag).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    else:
        raise ValueError(f"unknown direction: {direction}")
    if tolerance is None:
        filled = u.select(
            on,
            ts,
            tag,
            *[
                F.last(f"__v_{c}", ignorenulls=True).over(w).alias(f"__v_{c}")
                for c in value_cols
            ],
            *[F.col(f"__l_{c}") for c in lcols],
        )
        return filled.filter(F.col(tag) == 1).select(
            *[F.col(f"__l_{c}").alias(c) for c in lcols],
            *[F.col(f"__v_{c}").alias(c) for c in value_cols],
        )

    filled = u.select(
        on,
        ts,
        tag,
        *[F.col(f"__l_{c}") for c in lcols],
        F.last("__pk", ignorenulls=True).over(w).alias("__pk"),
    )

    def _num(c):
        return c.cast("timestamp").cast("double") if axis_datetime else c.cast("double")

    mt = F.col("__pk.__mt")
    gap = (
        _num(F.col(ts)) - _num(mt)
        if direction == "backward"
        else _num(mt) - _num(F.col(ts))
    )
    in_tol = F.col("__pk").isNotNull() & (gap <= F.lit(float(tolerance)))
    return filled.filter(F.col(tag) == 1).select(
        *[F.col(f"__l_{c}").alias(c) for c in lcols],
        *[F.when(in_tol, F.col(f"__pk.__v_{c}")).alias(c) for c in value_cols],
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the fact side, replicate the dim side.

    The manual remedy for a hot join key when the dim side is too big to
    broadcast but small enough to replicate ``n_salts``-fold: fact rows get
    a deterministic salt in [0, n_salts); dim rows are exploded once per
    salt; the join key becomes (key, salt), spreading each hot key over
    ``n_salts`` reducers.  Result is row-identical to the plain join (the
    oracle query checks that).

    Spark-first note: AQE's skew-join splitting (enabled in get_spark)
    handles most cases at runtime; this operator is for the residual ones —
    a single key so hot that even one AQE split of it overwhelms a task, or
    engines/pipelines where AQE is off.  Use plain ``join`` first.

    Only ``inner`` and ``left`` are row-identical to the plain join: with
    right/full outer joins an UNMATCHED dim row survives once per salt
    (n_salts duplicates), so those modes are rejected rather than silently
    wrong (ADVICE r2).  For a skewed right/full join, salt with the sides
    swapped or dedupe unmatched rows explicitly.
    """
    allowed = {"inner", "left", "left_outer", "leftouter"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join(how={how!r}): only inner/left are row-identical "
            "to the plain join — unmatched dim rows would appear once per "
            "salt under right/full outer modes"
        )
    # ANY salt assignment is correct (each fact row matches exactly one
    # replicated dim row per key regardless of salt value); hashing the
    # row's hashable columns just makes it deterministic across retries.
    # MapType is excluded — F.hash rejects it.
    from pyspark.sql.types import MapType

    hashable = [
        f.name for f in fact.schema.fields if not isinstance(f.dataType, MapType)
    ] or [key]
    salt = F.pmod(F.hash(*[F.col(c) for c in hashable]), F.lit(n_salts))
    f = fact.withColumn("__salt", salt)
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return f.join(d, [key, "__salt"], how).drop("__salt")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    keys: list[str] | None = None,
    bucket_size: float | None = None,
    how: str = "inner",
) -> DataFrame:
    """Interval join: match each point row to interval rows with
    ``start <= point <= end`` (optionally also equi-matching ``keys``).

    Reference analog: frame→behavior-segment mapping materialized as a python
    dict per frame (`worker_create.py:720-730,919-924`).

    Two physical strategies:
    - small ``intervals``: plain theta join — Catalyst broadcasts it
      (BroadcastNestedLoopJoin), fine up to ~10^5 intervals.
    - ``bucket_size`` set: bucketed equi-join — each interval is exploded to
      the buckets it overlaps, points get one bucket, join is a hash join on
      (keys…, bucket) followed by the exact range filter.  This is the 100 TB
      path: shuffle instead of nested loop.
    """
    keys = keys or []
    cond = (F.col(f"p.{point_col}") >= F.col(f"i.{start_col}")) & (
        F.col(f"p.{point_col}") <= F.col(f"i.{end_col}")
    )
    for k in keys:
        cond = cond & (F.col(f"p.{k}") == F.col(f"i.{k}"))
    if bucket_size is None:
        p, i = points.alias("p"), intervals.alias("i")
        dupes = [k for k in keys]
        out = p.join(i, cond, how)
        # drop duplicated key columns from the interval side
        for k in dupes:
            out = out.drop(F.col(f"i.{k}"))
        return out

    b = "__bucket"
    p = points.withColumn(b, F.floor(F.col(point_col) / F.lit(bucket_size))).alias("p")
    i = (
        intervals.withColumn(
            b,
            F.explode(
                F.sequence(
                    F.floor(F.col(start_col) / F.lit(bucket_size)),
                    F.floor(F.col(end_col) / F.lit(bucket_size)),
                )
            ),
        )
    ).alias("i")
    cond2 = (F.col(f"p.{b}") == F.col(f"i.{b}")) & cond
    out = p.join(i, cond2, how).drop(F.col(f"i.{b}")).drop(F.col(f"p.{b}"))
    for k in keys:
        out = out.drop(F.col(f"i.{k}"))
    return out


def prefix_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    how: str = "inner",
) -> DataFrame:
    """Join where ``left.left_col`` starts with ``right.right_col``.

    Reference analog: sequence→map prefix matching (``Demo`` → ``Demo001``)
    in `run_render_job_headless.py:636-650` and `render_engine.py:87-158`.

    Physical note: a theta join; Catalyst broadcasts the smaller side.  For a
    large right side, pre-compute a fixed-length prefix key on both sides to
    turn it into an equi-join plus residual filter (done here with the
    length of the right value — equi on nothing is not possible generally, so
    we keep the broadcast form; callers with huge dims should bucket by an
    explicit prefix length).
    """
    l, r = left.alias("l"), right.alias("r")
    cond = F.col(f"l.{left_col}").startswith(F.col(f"r.{right_col}"))
    return l.join(F.broadcast(r), cond, how)


def top_k_per_group(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list,
    k: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Top-k rows per group via ranking window (KNN-style truncation):
    ``row_number() over (partition by key order by …) <= k``, the one rank
    filter of the engine (cosine top-k, k-NN edges, first occurrence).

    Reference analogs: k=8 nearest neighbours per sample point
    (`navmesh_connectivity.py:132-135`); with k=1, first-occurrence
    Content-dir dedup / shortest fallback path per scene
    (`scene_copy.py:236-310`), done there with dict insertion order.
    Map-side partial aggregation of the window is handled by Spark's
    WindowExec; for extreme skew pre-aggregate with AQE skew handling on.
    With ``rank_col`` the row number is kept under that name.
    """
    rn = rank_col or "__rn"
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    out = df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) <= k)
    return out if rank_col else out.drop(rn)


def anti_diff(
    source: DataFrame, target: DataFrame, on: list[str]
) -> DataFrame:
    """Rows of ``source`` whose key is absent from ``target`` (left_anti).

    Reference analog: skip-if-exists upload diff (`scene_copy.py:408-422`,
    `bos_manager.py:249-259`) — the incremental-copy primitive.
    """
    return source.join(target.select(*on).dropDuplicates(on), on, "left_anti")


def validity_join(
    facts: DataFrame,
    dim_history: DataFrame,
    on: str,
    fact_ts: str,
    value_cols: list[str],
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Point-in-time (temporal validity) join: each fact row gets the
    dimension version whose ``[valid_from, valid_to)`` interval covers
    ``fact_ts`` — the lookup side of an SCD type-2 dimension
    (reconcile.py::scd2_collapse builds the history this consumes).

    Spark-first: NOT a range-condition join (which degrades to a nested
    loop or an interval fan-out); for version intervals — which are
    non-overlapping per key by construction — the covering version is
    exactly the as-of-backward match on ``valid_from``, so this rides the
    engine's single-shuffle union+window as-of kernel.  An open-interval
    guard then nulls the version columns for facts that fall AFTER a
    version's ``valid_to`` into a gap (contiguous SCD2 histories have no
    gaps; gapped ones stay correct instead of leaking the stale version).
    Facts before the first version come back with NULL version columns
    (left-join semantics).
    """
    # Carry the version's fields as ONE struct: the as-of kernel fills each
    # carried column independently with last(col, ignorenulls=True), so a
    # legitimately-NULL field on the matched version (e.g. the open
    # interval's valid_to) would inherit the PREVIOUS version's value.  A
    # struct is picked atomically — NULL fields ride along.
    pit = "__pit"
    # A zero-width version ([t, t) — created when a key changes twice at
    # the same quantized timestamp, e.g. two same-day status flips) covers
    # NO fact timestamp, so drop it BEFORE the as-of join.  Without this,
    # the superseded twin ties with the real version on valid_from and the
    # window's pick among tied rows is plan-dependent: if it lands on the
    # zero-width row, the valid_to guard NULLs every fact the real version
    # should cover.  After the drop, duplicate (key, valid_from) rows
    # cannot exist in a well-formed (non-overlapping) SCD2 history.
    dim = dim_history.filter(
        F.col(valid_to).isNull() | (F.col(valid_to) != F.col(valid_from))
    ).withColumn(
        pit, F.struct(*[F.col(c) for c in value_cols], F.col(valid_to))
    )
    out = asof_join(
        facts, dim, on, fact_ts, valid_from, [pit], direction="backward"
    )
    end = F.col(f"{pit}.{valid_to}")
    in_interval = end.isNull() | (F.col(fact_ts) < end)
    for c in value_cols:
        out = out.withColumn(c, F.when(in_interval, F.col(f"{pit}.{c}")))
    return out.drop(pit)
