"""Time named queries in isolation with the bench protocol (warm pass +
best-of-2, noop sink).  Usage:

    python tools/time_queries.py query1 query2 ...

Reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).  Prints one JSON
line {"queries": {name: best_sec}, "warm": {name: warm_sec}, "sf_dir": ...};
a query that fails times as null and its error goes to stderr.  Same
get_spark session and the same timing loop (``bench._bench_suite``) as
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

    from bench import _bench_suite
    from worlddatapipeline_spark import get_spark
    from worlddatapipeline_spark.queries import QUERIES

    spark = get_spark(app_name="wdp-time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    warm: dict[str, float] = {}
    best = _bench_suite(QUERIES, names, spark, sf_dir, {}, warm_pass=warm)
    print(json.dumps({"queries": best, "warm": warm, "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
