"""CLI — the engine analog of the reference's unified dispatcher.

The reference routes everything through ``app.py:81-403`` (subcommands
`bake_navmesh`, `create_sequence`, `render`, `upload_scene`, …), each loading
a JSON manifest and spawning subprocesses.  Here the same subcommand model
drives the declarative job pipelines (plans/pipelines.py); inputs and outputs
are parquet/CSV/JSON paths, and "execution" is one Spark action.

    python -m worlddatapipeline_spark scan       --files files.parquet --out outdir
    python -m worlddatapipeline_spark bake-plan  --maps maps.parquet --actors actors.parquet --out outdir
    python -m worlddatapipeline_spark sequence   --maps maps.parquet --out outdir [--manifest job.json]
    python -m worlddatapipeline_spark render-plan --sequences seqs.parquet --maps maps.parquet --out outdir
    python -m worlddatapipeline_spark reconcile  --catalog cat.parquet --listing ls.parquet --keys scene_name --out outdir
    python -m worlddatapipeline_spark stats      --sf-dir /root/testdata/sf0.01
    python -m worlddatapipeline_spark dq         --table t.parquet --unique id --not-null col1,col2 [--fail-on-violation]
    python -m worlddatapipeline_spark vacuum     --table tbl_dir --keep-last 1
    python -m worlddatapipeline_spark purge      --table tbl_dir --keys k --values erase.parquet
    python -m worlddatapipeline_spark query NAME --sf-dir /root/testdata/sf0.01 [--out outdir]

Every subcommand accepts ``--manifest job.json`` (template/default deep-merge
+ implicit output-dir date suffix, `job_utils.py:111-329` semantics).
"""

from __future__ import annotations

import argparse
import json
import sys

from .operators import export as export_ops
from .plans import pipelines
from .plans.manifests import load_manifest
from .session import get_spark, load_tables


def _manifest(args) -> dict:
    return load_manifest(args.manifest) if args.manifest else {}


def _write(df, out: str, fmt: str = "parquet") -> None:
    (df.write.mode("overwrite").parquet(out) if fmt == "parquet"
     else df.write.mode("overwrite").json(out))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="worlddatapipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add(name, *flags):
        sp = sub.add_parser(name)
        for f in flags:
            sp.add_argument(f, required=f not in ("--manifest", "--out"))
        sp.add_argument("--manifest")
        return sp

    add("scan", "--files", "--out")
    add("bake-plan", "--maps", "--actors", "--out")
    add("sequence", "--maps", "--out")
    add("render-plan", "--sequences", "--maps", "--out")
    rp = add("reconcile", "--catalog", "--listing", "--keys", "--out")
    sp = sub.add_parser("stats")
    sp.add_argument("--sf-dir", required=True)
    sp.add_argument("--manifest")
    qp = sub.add_parser("query")
    qp.add_argument("name")
    qp.add_argument("--sf-dir", required=True)
    qp.add_argument("--out")
    qp.add_argument("--manifest")
    dq = sub.add_parser("dq")
    dq.add_argument("--table", required=True, help="parquet path to check")
    dq.add_argument("--unique", help="comma-joined unique-key columns")
    dq.add_argument("--not-null", help="comma-joined required columns")
    dq.add_argument("--fail-on-violation", action="store_true")
    dq.add_argument("--manifest")
    vac = sub.add_parser("vacuum")
    vac.add_argument("--table", required=True, help="merged-table directory")
    vac.add_argument("--keep-last", type=int, default=1)
    pg = sub.add_parser("purge")
    pg.add_argument("--table", required=True, help="merged-table directory")
    pg.add_argument("--keys", required=True, help="comma-joined key columns")
    pg.add_argument(
        "--values", required=True,
        help="parquet path holding the key rows to erase",
    )

    args = p.parse_args(argv)

    if args.cmd == "vacuum":
        # pure-filesystem retention maintenance — no Spark session (a
        # per-table cron should not pay JVM startup for os.listdir work);
        # refuses to run against a live writer via the shared lease
        from .operators.reconcile import table_versions, vacuum_table

        removed = vacuum_table(args.table, keep_last=args.keep_last)
        print(json.dumps(
            {"removed": removed, "kept": table_versions(args.table)}
        ))
        return 0

    spark = get_spark(app_name=f"wdp-{args.cmd}")

    if args.cmd == "scan":
        out = pipelines.run_scan_job(spark, spark.read.parquet(args.files), _manifest(args))
        for name, df in out.items():
            if args.out:
                _write(df, f"{args.out}/{name}", "json" if name == "document" else "parquet")
        print(json.dumps({"scenes": out["scenes"].count(), "maps": out["maps"].count()}))
    elif args.cmd == "bake-plan":
        plan = pipelines.run_bake_plan(
            spark, spark.read.parquet(args.maps), spark.read.parquet(args.actors),
            _manifest(args),
        )
        if args.out:
            _write(plan, args.out)
        n = plan.count()
        print(json.dumps({"maps": n, "to_bake": plan.filter("should_bake").count()}))
    elif args.cmd == "sequence":
        out, dest = pipelines.sequence_poses(
            spark, spark.read.parquet(args.maps), _manifest(args), output_dir=args.out,
        )
        # the export observes its row count, so only a run without one counts
        frames = export_ops.write_camera_csvs(out, dest) if dest else out.count()
        print(json.dumps({"frames": frames}))
    elif args.cmd == "render-plan":
        plan = pipelines.run_render_plan(
            spark, spark.read.parquet(args.sequences), spark.read.parquet(args.maps),
            _manifest(args),
        )
        if args.out:
            _write(plan, args.out)
        print(json.dumps({"work_items": plan.count()}))
    elif args.cmd == "reconcile":
        out = pipelines.run_reconcile_job(
            spark, spark.read.parquet(args.catalog), spark.read.parquet(args.listing),
            args.keys.split(","), _manifest(args),
        )
        if args.out:
            _write(out["annotated"], args.out)
        print(json.dumps({r["sync_status"]: r["n"] for r in out["stats"].collect()}))
    elif args.cmd == "stats":
        tabs = load_tables(spark, args.sf_dir, ["orders", "lineitem", "customer"])
        row = (
            tabs["lineitem"].agg({"l_extendedprice": "sum", "*": "count"}).collect()[0]
        )
        print(json.dumps({
            "lineitems": row["count(1)"],
            "revenue": round(row["sum(l_extendedprice)"], 2),
            "orders": tabs["orders"].count(),
            "customers": tabs["customer"].count(),
        }))
    elif args.cmd == "query":
        import __spark_entry__ as entry

        qs = entry.queries()
        if args.name not in qs:
            print(f"unknown query {args.name}; available: {sorted(qs)}", file=sys.stderr)
            return 2
        df = qs[args.name](spark, args.sf_dir)
        if args.out:
            _write(df, args.out)
        print(json.dumps({"query": args.name, "rows": df.count()}))
    elif args.cmd == "dq":
        # publish gate: run a constraint suite on a landed table and exit
        # non-zero on violations when asked (CI/pipeline-gate usage)
        from .operators import quality as Q

        df = spark.read.parquet(args.table)
        cs = []
        if args.unique:
            cs.append(Q.unique(args.unique.split(",")))
        for c in (args.not_null or "").split(","):
            if c:
                cs.append(Q.not_null(c))
        report = Q.check_constraints(df, cs).collect()
        print(json.dumps(
            {r["check_name"]: r["n_violations"] for r in report}
        ))
        if args.fail_on_violation and any(not r["passed"] for r in report):
            return 1
    elif args.cmd == "purge":
        # right-to-be-forgotten: erase matching keys from the live table
        # AND its whole version history (not rollback-able by design)
        from .operators.reconcile import purge_rows

        out = purge_rows(
            spark, args.table, args.keys.split(","),
            spark.read.parquet(args.values),
        )
        print(json.dumps({"rows_after_purge": out.count()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
