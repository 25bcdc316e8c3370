"""One benchmark run inside a fresh process: start the session, run the
workload's cold pass and timed warm passes, verify the outputs, and write
a result JSON.  ``run.py`` starts it; run that, not this.

Usage (as run.py calls it):
    python3 perfbench/worker.py --workload W --inputs DIR --out DIR
        --seed N --seconds S --trace 0|1 --result FILE [--tamper]
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import statistics
import sys
import time
import traceback

import tracing
import workloads


def _median_sum(samples: dict[str, list[float]]) -> float:
    return sum(statistics.median(v) for v in samples.values() if v)


def _dir_usage(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, fn))
            n_files += 1
    return n_bytes, n_files


def start_session(trace_dir: str | None):
    """The set-up every user pays: import, session, one trivial job."""
    from worlddatapipeline_spark import get_spark

    conf = {}
    if trace_dir:
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(trace_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"}
    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{os.cpu_count()}]",
                      extra_conf=conf)
    get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, get_spark_s


def run(args) -> dict:
    t_spawn = float(os.environ["PERFBENCH_SPAWNED_AT"])
    trace_dir = os.path.join(args.out, "..", "eventlog") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
    spark, get_spark_s = start_session(trace_dir)
    res = {"setup_s": time.monotonic() - t_spawn, "get_spark_s": get_spark_s,
           "spark_version": spark.version}
    tracer = tracing.Tracer(spark.sparkContext, enabled=bool(args.trace),
                            run_id=f"{args.workload}-{args.seed}")
    wl = workloads.make(args.workload, spark, args.inputs, args.out, tracer)
    rng = random.Random(args.seed)
    cold: dict[str, float] = {}
    warm: dict[str, list[float]] = {name: [] for name, _ in wl.ops}
    errors: dict[str, str] = {}
    storage_end: tuple[int, int] = (0, 0)

    def one_pass(label: str, times_into) -> None:
        nonlocal storage_end
        order = list(wl.ops)
        if wl.shuffle:
            rng.shuffle(order)
        for name, fn in order:
            if name in errors:
                continue
            t = time.perf_counter()
            try:
                with tracer.span(name, phase=label):
                    fn()
            except Exception:  # a failed op is counted, the run goes on
                errors[name] = traceback.format_exc(limit=4)
                print(f"perfbench: {name} failed:\n{errors[name]}",
                      file=sys.stderr)
                continue
            times_into(name, time.perf_counter() - t)
        if args.trace:
            storage_end = tracing.storage_state(spark.sparkContext)

    one_pass("cold", cold.__setitem__)
    # a fixed number of warm passes per workload, so the statistic behind
    # wall_s is the same on every commit; --seconds is only a ceiling: no
    # further pass starts once the warm phase has used it up
    t_warm = time.perf_counter()
    for _ in range(wl.warm_passes):
        if time.perf_counter() - t_warm > args.seconds:
            break
        one_pass("warm", lambda n, dt: warm[n].append(dt))
    warm_elapsed = time.perf_counter() - t_warm

    # verification: untimed, after the timed passes
    mismatches = wl.verify(tamper=args.tamper)
    for name, why in mismatches.items():
        print(f"perfbench: verification failed for {name}: {why}",
              file=sys.stderr)
    all_warm = [dt for v in warm.values() for dt in v]
    res.update(
        attempted=len(cold) + len(errors) + len(all_warm),
        failed=len(errors) + len(mismatches),
        errors=sorted(errors), mismatches=mismatches,
        cold_wall_s=sum(cold.values()),
        wall_s=_median_sum(warm),
        op_p50_s=statistics.median(all_warm) if all_warm else 0.0,
        warm_runs=len(all_warm),
        cold_by_op=cold,
        warm_by_op={n: statistics.median(v) for n, v in warm.items() if v},
    )
    if args.trace:
        with tracer.span("session.load_tables", phase="probe"):
            from worlddatapipeline_spark import load_tables
            load_tables(spark, wl.tables_dir, wl.tables)
        res["coverage_frac"] = tracer.warm_op_seconds() / warm_elapsed
        res["cold_extra_s"] = sum(
            cold[n] - statistics.median(warm[n]) for n in cold if warm[n])
        res["storage_end"] = storage_end
    spark.stop()
    res["stored_bytes"], res["stored_files"] = _dir_usage(args.out)
    if args.trace:
        tracer.write(os.path.join(args.out, "..", "spans.jsonl"))
        res["layers"] = tracer.layer_metrics(tracing.read_event_log(trace_dir))
    return res


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--inputs", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--result", required=True)
    p.add_argument("--tamper", action="store_true")
    args = p.parse_args()
    # Spark and the package print to stdout; the result goes to a file
    with contextlib.redirect_stdout(sys.stderr):
        res = run(args)
    with open(args.result, "w", encoding="utf-8") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main()
