"""Capture .explain('formatted') output for named queries into plans/r12/.

Usage: python tools/capture_plans.py SUFFIX query1 query2 ...
Writes plans/r12/<query>_<SUFFIX>.txt for each query (SUFFIX = before|after).

Uses the same get_spark session as bench.py so plan shapes (AQE, broadcast
thresholds, shuffle partitions) match what the bench actually executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r12",
    )
    os.makedirs(out_dir, exist_ok=True)

    from plan_audit import CAPTURED, _explain_formatted, install_capture
    from worlddatapipeline_spark import get_spark
    from worlddatapipeline_spark.queries import QUERIES

    spark = get_spark(app_name="wdp-capture-plans")
    spark.sparkContext.setLogLevel("ERROR")

    # Builders that keep a barrier (session.materialize_and_release) and
    # the iterative graph kernels return a lineage-truncated ExistingRDD
    # scan; plan_audit's interception records the PRE-checkpoint plan at
    # each truncation point (and each streaming micro-batch plan), so the
    # committed file shows the physical plan that actually executed.
    install_capture()
    for name in names:
        CAPTURED.clear()
        df = QUERIES[name](spark, sf_dir)
        text = _explain_formatted(df) or ""
        if "Scan ExistingRDD" in text and CAPTURED:
            text = (
                "-- pre-checkpoint plan(s) captured at localCheckpoint "
                "or streaming runs (lineage is truncated in the final "
                "frame) --\n\n"
                + "\n".join(CAPTURED)
                + "\n-- final (post-checkpoint) frame --\n"
                + text
            )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text)} bytes)")


if __name__ == "__main__":
    main()
