"""Local mimic of the driver's correctness harness.

Runs every entry in queries() on Spark and (when present) its oracle_sql()
on DuckDB over the same parquet dir, then compares row count, column names,
and an order-insensitive value comparison.  Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_cell(v):
    """STRICTER than the driver is known to be, by design.

    Round-1 driver hash failures proved the driver distinguishes (a) -0.0
    from 0.0 and (b) DuckDB DECIMAL from Spark BIGINT.  We don't have the
    driver's exact hasher, so the safe predictor is maximal strictness:
    preserve sign-of-zero, float-vs-int-ness, and Decimal type.  Anything
    this checker passes should pass any reasonable hasher; anything it
    flags is a type/representation mismatch worth fixing at the source
    (cast in the oracle SQL / `+ 0.0` after round on the Spark side).
    """
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return "decimal:" + str(v)
    return str(v)


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)


def main():
    # --json PATH writes a driver-CORRECTNESS-shaped artifact of the sweep so
    # the "oracle-checked" registry claim is backed by a committed file
    # (round-2 advice), not just a transcript.
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    plain = "--plain" in argv
    if plain:
        argv.remove("--plain")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    import duckdb

    import __spark_entry__ as entrymod

    if plain:
        # Driver-gate simulation: the driver builds its OWN SparkSession
        # without our session-factory configs — any query that silently
        # depends on a get_spark() setting fails HERE instead of in the
        # recorded round.  (load_tables applies the runtime-settable
        # configs itself, e.g. parquet nanos handling + UTC timezone.)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
    else:
        from worlddatapipeline_spark import get_spark

        spark = get_spark()
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_pass = n_fail = 0
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            results[name] = {"status": "FAIL", "err": f"spark: {e}"[:300]}
            n_fail += 1
            continue
        dt = time.monotonic() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(srows)} rows ({dt:.1f}s)")
            results[name] = {
                "status": "rows_only", "spark_rows": len(srows),
                "sec": round(dt, 1),
            }
            n_pass += 1
            continue
        try:
            # Fetch via Arrow, not fetchall(): fetchall() collapses DuckDB
            # HUGEINT/DECIMAL to Python int, hiding exactly the type widening
            # (sum(int) -> DECIMAL(38,0)) that the driver's Arrow-side hasher
            # sees.  to_pylist() preserves Decimal cells so norm_cell flags it.
            res = con.execute(oracles[name])
            tbl = res.fetch_arrow_table()
            dcols = tbl.column_names
            drows = [[row[c] for c in dcols] for row in tbl.to_pylist()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            results[name] = {"status": "FAIL", "err": f"duckdb: {e}"[:300]}
            n_fail += 1
            continue
        ok = True
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duckdb={len(drows)}")
            ok = False
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: cols spark={sorted(scols)} duckdb={sorted(dcols)}")
            ok = False
        if ok:
            sm = rows_to_multiset(scols, [[r[c] for c in scols] for r in srows])
            dm = rows_to_multiset(dcols, drows)
            if sm != dm:
                diff = [(a, b) for a, b in zip(sm, dm) if a != b][:3]
                print(f"FAIL {name}: value mismatch; first diffs: {diff}")
                ok = False
        results[name] = {
            "status": "PASS" if ok else "FAIL",
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "sec": round(dt, 1),
        }
        if ok:
            print(f"PASS {name}: {len(srows)} rows ({dt:.1f}s)")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "results": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_out}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
