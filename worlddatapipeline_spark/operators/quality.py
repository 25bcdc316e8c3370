"""Declarative data-quality constraint checking (Deequ/dbt-test shape).

The reference validates its catalog imperatively — row-by-row checks
before SQLite commits (`scene_registry.py` insert guards) and ad-hoc
assertions in job scripts.  The engine form is a CONSTRAINT SUITE: a
declarative list of checks compiled into ONE aggregation pass over the
table (conditional aggregates — no per-check scan), emitting a
per-constraint violation report.  This is the publish gate a 100 TB
pipeline runs on a freshly-landed partition before moving the pointer
(compose with reconcile.merge_upsert_parquet: check, then merge).

Check kinds (all pure Column expressions; one scan total):
- ``not_null(col)`` — NULL count
- ``unique(cols)`` — duplicate-key row count (the one check needing its
  own groupBy; it shares the scan via ReuseExchange when keys match the
  table's bucketing, and is delta-checkable on increments)
- ``in_set(col, values)`` — domain violations
- ``in_range(col, lo, hi)`` — bound violations (NULL does not violate a
  range check; pair with not_null to forbid NULLs)
- ``satisfies(name, predicate)`` — arbitrary boolean expression
- ``foreign_key(cols, ref_df, ref_cols)`` — referential integrity via a
  left-anti join against the (deduplicated) reference keys

Scale: the single-pass aggregate is map-side partial; FK anti-joins are
left to AQE (broadcast when the deduplicated reference keys are small,
shuffle anti-join when the parent is fact-sized); ``unique`` keys by the
constraint columns.  The report is |constraints| rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import literal_frame


@dataclass
class Constraint:
    name: str
    kind: str
    cols: list[str] = field(default_factory=list)
    predicate: Column | None = None
    values: list[Any] | None = None
    lo: Any = None
    hi: Any = None
    ref_df: DataFrame | None = None
    ref_cols: list[str] | None = None


def not_null(col: str) -> Constraint:
    return Constraint(name=f"not_null({col})", kind="agg",
                      predicate=F.col(col).isNull())


def in_set(col: str, values: list) -> Constraint:
    return Constraint(
        name=f"in_set({col})", kind="agg",
        predicate=F.col(col).isNotNull() & ~F.col(col).isin(values),
    )


def in_range(col: str, lo, hi) -> Constraint:
    return Constraint(
        name=f"in_range({col})", kind="agg",
        predicate=F.col(col).isNotNull()
        & ((F.col(col) < F.lit(lo)) | (F.col(col) > F.lit(hi))),
    )


def satisfies(name: str, violated_when: Column) -> Constraint:
    return Constraint(name=name, kind="agg", predicate=violated_when)


def unique(cols: list[str]) -> Constraint:
    return Constraint(name=f"unique({','.join(cols)})", kind="unique",
                      cols=list(cols))


def foreign_key(cols: list[str], ref_df: DataFrame,
                ref_cols: list[str]) -> Constraint:
    return Constraint(
        name=f"foreign_key({','.join(cols)})", kind="fk",
        cols=list(cols), ref_df=ref_df, ref_cols=list(ref_cols),
    )


def check_constraints(df: DataFrame, constraints: list[Constraint]) -> DataFrame:
    """Evaluate a constraint suite; returns (check_name, n_violations,
    passed) — one row per constraint, deterministic order-independent.

    All ``agg``-kind checks fuse into ONE conditional-aggregate scan;
    ``unique`` adds a groupBy on its key; ``foreign_key`` adds a left-anti
    join per distinct reference.  Violation counts (not booleans) so the
    report quantifies damage — a publish gate can threshold, not just
    fail."""
    agg_cs = [c for c in constraints if c.kind == "agg"]
    reports: list[DataFrame] = []
    if agg_cs:
        row = df.agg(*[
            F.sum(F.when(c.predicate, 1).otherwise(0))
            .cast("long")
            .alias(f"v{i}")
            for i, c in enumerate(agg_cs)
        ])
        stacked = row.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(c.name).alias("check_name"),
                        F.coalesce(F.col(f"v{i}"), F.lit(0)).alias(
                            "n_violations"
                        ),
                    )
                    for i, c in enumerate(agg_cs)
                ])
            ).alias("r")
        ).select("r.check_name", "r.n_violations")
        reports.append(stacked)
    for c in constraints:
        if c.kind == "unique":
            dup = (
                df.groupBy(*c.cols)
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
                .agg(
                    F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias(
                        "n_violations"
                    )
                )
                .select(F.lit(c.name).alias("check_name"), "n_violations")
            )
            reports.append(dup)
        elif c.kind == "fk":
            refs = c.ref_df.select(
                *[F.col(rc).alias(cc) for cc, rc in zip(c.cols, c.ref_cols)]
            ).dropDuplicates(c.cols)
            # NULL FKs don't violate (SQL simple-match FK semantics);
            # pair with not_null to forbid them
            all_present = F.lit(True)
            for cc in c.cols:
                all_present = all_present & F.col(cc).isNotNull()
            # no forced broadcast: a reference can be fact-sized (orders
            # as parent) — AQE picks broadcast when refs is small enough
            # and a shuffle anti-join otherwise
            orphans = (
                df.filter(all_present)
                .join(refs, c.cols, "left_anti")
                .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
                .select(F.lit(c.name).alias("check_name"), "n_violations")
            )
            reports.append(orphans)
    if not reports:  # empty suite -> empty report, not IndexError
        return literal_frame(
            df.sparkSession,
            [],
            "check_name string, n_violations long, passed boolean",
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.select(
        "check_name",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )
