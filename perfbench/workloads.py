"""The workloads: their operations and how their outputs are checked.

``catalog_queries`` runs a fixed subset of ``bench.py``'s suites, chosen so
one run (fresh session, cold pass, warm passes, verification) fits the
benchmark's time budget on a 4-core host.  Two HEADLINE queries read three
and six tables.  The call ``QUERIES[name](spark, dir)`` (table loading and
plan building) took 41 % and 47 % of their warm time at sf0.1 on 4 cores,
against a median of 27 % over the 51 HEADLINE and TPC-H queries, so a change
to that per-query fixed cost shows on them.  The others put the ``text``,
``dedup``, ``similarity`` and ``multimodal`` operators and the Python
workers on the measured path.
"""

from __future__ import annotations

import os
import sys

import bench
import scene

CATALOG_QUERIES = [
    "region_rollup", "supplier_volume",  # relational, 3 and 6 tables
    "doc_quality", "dedup_docs_exact", "embedding_topk",  # text/dedup/similarity
    "jpeg_roundtrip_contract",  # multimodal codec on Python workers
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

if not set(CATALOG_QUERIES) <= set(bench.HEADLINE + bench.TPCH + bench.LLM):
    raise ImportError("a benchmark query is no longer in bench.py's suites")


def _oracle_helpers():
    """``rows_to_multiset`` (with its ``norm_cell``) from
    tools/check_oracle.py, which puts its own entry on ``sys.path`` when
    imported; undo that."""
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(os.path.dirname(bench.__file__), "tools"))
    try:
        import check_oracle
    finally:
        sys.path[:] = saved
    return check_oracle.rows_to_multiset


class QueryWorkload:
    shuffle = True
    tables = TABLES
    # fixed, so wall_s is the same statistic on every commit: the median of
    # two warm runs of each query (about 6 s a pass on 4 cores)
    warm_passes = 2

    def __init__(self, names, spark, inputs, tracer):
        from worlddatapipeline_spark.queries import QUERIES

        self.spark, self.tracer, self.queries = spark, tracer, QUERIES
        self.tables_dir = os.path.join(inputs, "tables")
        self.outputs: dict[str, tuple[list[str], list]] = {}
        self.ops = [(n, (lambda n=n: self._run(n))) for n in names]

    def _run(self, name: str) -> None:
        with self.tracer.span("queries.build"):
            df = self.queries[name](self.spark, self.tables_dir)
        with self.tracer.span("exec.action"):
            rows = df.collect()
        self.tracer.annotate_catalyst(df)
        self.outputs[name] = (df.columns, rows)

    def verify(self, tamper: bool) -> dict[str, str]:
        """Each query's last output against its DuckDB oracle, as a
        multiset of normalized rows."""
        import duckdb

        from worlddatapipeline_spark.queries import ORACLES

        rows_to_multiset = _oracle_helpers()
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.tables_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        bad = {}
        for i, (name, (cols, rows)) in enumerate(sorted(self.outputs.items())):
            got = [[r[c] for c in cols] for r in rows]
            if tamper and i == 0:
                got = got[1:] if got else [[None] * len(cols)]
            tbl = con.execute(ORACLES[name]).fetch_arrow_table()
            want = [[row[c] for c in tbl.column_names] for row in tbl.to_pylist()]
            if sorted(cols) != sorted(tbl.column_names):
                bad[name] = f"columns {sorted(cols)} != {sorted(tbl.column_names)}"
            elif (rows_to_multiset(cols, got)
                  != rows_to_multiset(tbl.column_names, want)):
                bad[name] = f"rows differ ({len(got)} vs oracle {len(want)})"
        con.close()
        return bad


class SceneWorkload:
    shuffle = False  # the steps depend on each other
    tables = ["actors", "catalog_seed"]
    # one warm pass (about 17 s on 4 cores): a second one would not fit
    # the benchmark's time budget
    warm_passes = 1

    def __init__(self, spark, inputs, out):
        self.tables_dir = os.path.join(inputs, "scene")
        self.pipeline = scene.Pipeline(spark, self.tables_dir, out)
        self.ops = self.pipeline.steps()

    def verify(self, tamper: bool) -> dict[str, str]:
        try:
            bad = self.pipeline.check(tamper)
        except Exception as e:  # state left by a failed step
            bad = [f"check raised {type(e).__name__}: {e}"]
        return {f"scene_pipeline[{i}]": why for i, why in enumerate(bad)}


def make(name: str, spark, inputs: str, out: str, tracer):
    if name == "catalog_queries":
        return QueryWorkload(CATALOG_QUERIES, spark, inputs, tracer)
    if name == "scene_pipeline":
        return SceneWorkload(spark, inputs, out)
    raise ValueError(f"unknown workload {name!r}")
