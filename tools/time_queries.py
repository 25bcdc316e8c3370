"""Time named queries in isolation with the bench protocol (warm pass +
best-of-2, noop sink).  Usage:

    python tools/time_queries.py query1 query2 ...

Reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).  Prints one JSON
line {"queries": {name: best_sec}, "warm": {name: warm_sec}, "sf_dir": ...}.
Same get_spark session and the same timed call (``bench._run_one``) as
bench.py, so plan shapes and timings match the bench.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import _run_one
    from worlddatapipeline_spark import get_spark
    from worlddatapipeline_spark.queries import QUERIES

    spark = get_spark(app_name="wdp-time-queries")
    spark.sparkContext.setLogLevel("ERROR")

    def run_one(name: str) -> float:
        return _run_one(QUERIES, name, spark, sf_dir)

    warm: dict[str, float] = {}
    best: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"time:{name}")
        warm[name] = round(run_one(name), 3)
        best[name] = round(min(run_one(name) for _ in range(2)), 3)
        spark.sparkContext.setJobDescription(None)
        print(f"{name}: warm={warm[name]} best={best[name]}", file=sys.stderr)
    print(json.dumps({"queries": best, "warm": warm, "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
