"""Physical-plan fingerprint sweep: one structural fingerprint per registry
query, committed as PLAN_FINGERPRINTS.json per round.

tests/test_plans.py pins the load-bearing plan shapes exactly; this tool
adds BREADTH — a cheap structural fingerprint (exchange / join-strategy /
Python-stage counts) for EVERY registry entry, so an accidental plan
regression anywhere (a broadcast falling back to sort-merge after a schema
change, a new Python stage sneaking into a hot path, a window acquiring a
rangepartitioning) shows up as a one-line JSON diff at round end instead of
a silent slowdown.

Coverage of eager/streaming work (VERDICT r8 item 4 — queries whose real
plans used to fingerprint as ``{}``): while a query function runs, the
sweep monkeypatches

* ``DataFrame.localCheckpoint`` — records the formatted PRE-checkpoint
  plan of every frame the query materializes internally (this covers the
  few builders that keep a ``materialize_and_release`` barrier, the
  iterative graph kernels' per-iteration checkpoints, and the round-trip
  staging frames), and
* ``StreamingQuery.awaitTermination`` — records the executed micro-batch
  physical plan (``explainInternal``) of every real streaming run.

The committed fingerprint is the FEATURE-COUNT SUM over all captured
plans plus the returned frame's static plan — one number per feature,
still diffable.  Scan features make a feature-free plan impossible, so a
``{}`` entry now always means "query never produced a plan" (an error),
never "work invisible to the audit".

Usage:
    python tools/plan_audit.py [sf_dir] [--json PATH] [--diff OLD.json]

Notes: fingerprints are taken from the INITIAL static plan (AQE runtime
re-planning doesn't show here) plus the captured internal/streaming plans,
at a fixed sf_dir on a fixed Spark version — they are a per-round
regression surface, not a portable contract.  Queries that execute eagerly
do run when fingerprinted; default sf0.001 keeps that cheap.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Formatted-mode explain renders each Exchange as a numbered node with its
# partitioning on a separate "Arguments:" line — 'Exchange hashpartitioning'
# as an adjacent string ONLY exists in simple mode.  Captured streaming
# plans (explainInternal) are SIMPLE mode, so every partitioning feature
# carries both alternations.  The original formatted-only patterns silently
# matched nothing (0 across all 184 queries in the first committed
# fingerprint set), which made the audit blind to every shuffle regression.
FEATURES = {
    "exchange_hash": r"Arguments: hashpartitioning\(|Exchange hashpartitioning\(",
    "exchange_range": r"Arguments: rangepartitioning\(|Exchange rangepartitioning\(",
    "exchange_single": r"Arguments: SinglePartition|Exchange SinglePartition",
    "broadcast_exchange": r"\bBroadcastExchange\b",
    "sort_merge_join": r"SortMergeJoin",
    "broadcast_hash_join": r"BroadcastHashJoin",
    "broadcast_nl_join": r"BroadcastNestedLoopJoin",
    "shuffled_hash_join": r"ShuffledHashJoin",
    "cartesian": r"CartesianProduct",
    "python_batch": r"BatchEvalPython",
    "python_arrow": r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas",
    # Spark's dense zipWithIndex operator (windows.global_index)
    "sequence_attach": r"AttachDistributedSequence",
    "take_ordered": r"TakeOrderedAndProject",
    # a Sort node whose global flag is true: formatted "Arguments: […],
    # true, 0" / simple "Sort […], true, 0"
    "global_sort": r"Arguments: \[[^\]]*\], true, |Sort \[[^\]]*\], true, ",
    "window": r"\bWindow\b|RunningWindowFunction",
    # scan features: every physical plan reads SOMETHING, so a query with
    # no other tracked feature still fingerprints non-empty (a pure-map
    # projection shows its parquet scan) and `{}` unambiguously means
    # "no plan captured at all"
    "scan_parquet": r"Scan parquet|FileScan parquet|Arguments: parquet,",
    "scan_other": r"LocalTableScan|Scan ExistingRDD|\bRowDataSourceScan\b"
                  r"|Scan JDBCRelation|BatchScan|OneRowRelation",
    # a frame built from a Python list (``createDataFrame(list)``): its
    # ``Scan ExistingRDD`` carries this on its Arguments line, a checkpoint's
    # does not — literals go through ``session.literal_frame`` instead
    "scan_python_rdd": r"applySchemaToPythonRDD",
    # Spark 4 recursive-CTE execution node (the amortization query plans
    # through UnionLoop with an un-planned LogicalRelation child)
    "recursive_loop": r"\bUnionLoop\b",
}


def fingerprint(plan: str) -> dict[str, int]:
    return {
        k: len(re.findall(pat, plan)) for k, pat in FEATURES.items()
        if len(re.findall(pat, plan)) > 0
    }


CAPTURED: list[str] = []


def _explain_formatted(df) -> str | None:
    try:
        return df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    except Exception:
        return None


def install_capture() -> None:
    """Monkeypatch the two lineage-truncation points so internally
    materialized and streaming plans land in ``CAPTURED`` — audit-tool
    only, never active in production runs."""
    # Spark 4 split: instances are pyspark.sql.classic.dataframe.DataFrame,
    # which OVERRIDES the base-class methods — patching pyspark.sql.DataFrame
    # alone intercepts nothing (verified: the base patch captured zero plans)
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pre-split Spark
        from pyspark.sql import DataFrame
    from pyspark.sql.streaming import StreamingQuery

    orig_lc = DataFrame.localCheckpoint

    def lc(self, *args, **kwargs):
        p = _explain_formatted(self)
        if p is not None:
            CAPTURED.append(p)
        return orig_lc(self, *args, **kwargs)

    DataFrame.localCheckpoint = lc

    orig_await = StreamingQuery.awaitTermination

    def await_t(self, timeout=None):
        r = orig_await(self, timeout)
        try:
            # simple-mode physical plan of the last executed micro-batch
            CAPTURED.append(self._jsq.explainInternal(False))
        except Exception:
            pass
        return r

    StreamingQuery.awaitTermination = await_t


def main() -> None:
    argv = list(sys.argv[1:])
    json_out = diff_old = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    if "--diff" in argv:
        i = argv.index("--diff")
        diff_old = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"

    import __spark_entry__ as entrymod
    from worlddatapipeline_spark import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    install_capture()
    out: dict[str, dict] = {}
    for name, fn in entrymod.queries().items():
        try:
            CAPTURED.clear()
            df = fn(spark, sf_dir)
            plans = list(CAPTURED)
            final = _explain_formatted(df)
            if final is not None:
                plans.append(final)
            fp: dict[str, int] = {}
            for plan in plans:
                for k, v in fingerprint(plan).items():
                    fp[k] = fp.get(k, 0) + v
            out[name] = fp
        except Exception as exc:  # keep sweeping; record the failure
            out[name] = {"error": str(exc)[:200]}
        finally:
            CAPTURED.clear()
        print(f"{name}: {out[name]}")

    if json_out:
        with open(json_out, "w", encoding="utf-8") as fh:
            json.dump({"sf_dir": sf_dir, "fingerprints": out}, fh, indent=1,
                      sort_keys=True)
        print(f"wrote {json_out}")

    if diff_old:
        with open(diff_old, encoding="utf-8") as fh:
            old = json.load(fh)["fingerprints"]
        n_diff = 0
        for name in sorted(set(old) | set(out)):
            if old.get(name) != out.get(name):
                n_diff += 1
                print(f"DIFF {name}: {old.get(name)} -> {out.get(name)}")
        print(f"{n_diff} fingerprint changes vs {diff_old}")


if __name__ == "__main__":
    main()
