"""Interleaved sf0.1 → sf1.0 decade measurement, PER QUERY.

VERDICT r11 item 7: the r11 scaling artifact ran its two legs ~15 min
apart on a co-tenant box, so x10 ratios inherited window skew.  This tool
runs each query's two scale legs BACK-TO-BACK (warm + best-of-2 at sf0.1,
then immediately warm + best-of-2 at sf1.0) inside one session, so each
query's x10 is a same-window ratio.  Each leg is one
``bench._bench_suite`` call, the bench's own timing loop.  Usage:

    python tools/bench_scaling.py out.json query1 query2 ...

sf0.1 comes from /root/testdata/sf0.1; sf1.0 from .localdata/sf1.0
(tools/datagen.py 1.0, SEED=42 — same generator as the r10/r11 artifacts).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
SF10 = os.path.join(REPO, ".localdata", "sf1.0")


def main() -> None:
    out_path = sys.argv[1]
    names = sys.argv[2:]

    from bench import _bench_suite
    from worlddatapipeline_spark import get_spark
    from worlddatapipeline_spark.queries import QUERIES

    spark = get_spark(app_name="wdp-bench-scaling")
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {}
    for name in names:
        errors: dict[str, str] = {}
        t01 = _bench_suite(QUERIES, [name], spark, SF01, errors)[name]
        if t01 is not None:
            t10 = _bench_suite(QUERIES, [name], spark, SF10, errors)[name]
        if errors:
            results[name] = {"error": errors[name][:200]}
        else:
            results[name] = {
                "sf0.1": t01,
                "sf1.0": t10,
                "x10": round(t10 / t01, 2) if t01 > 0 else None,
            }
        print(name, results[name], flush=True)
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(
            {
                "protocol": "per-query interleaved sf0.1->sf1.0, warm + "
                "best-of-2 each leg, noop sink, one session",
                "results": results,
            },
            fh,
            indent=1,
        )
    print("wrote", out_path)


if __name__ == "__main__":
    main()
