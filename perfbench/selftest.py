"""Self-test of the benchmark at tiny size (sf0.001 tables, 5 scenes, one
warm pass): every metric BENCHMARK.json names is printed with its unit, the
untouched outputs verify, the traced run measures every layer the workload
exercises, and a tampered output fails verification.

    python3 perfbench/selftest.py        # from the repository root, ~8 min
"""

from __future__ import annotations

import json
import numbers
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import scene  # noqa: E402

# per-layer metrics that must read more than 0 in a traced run: the layers
# each workload exercises, so a layer that stops being measured shows here
_EVERY = ["session.get_spark_s", "session.load_tables_s",
          "session.load_tables_jobs", "exec.exec_s", "exec.jobs", "exec.tasks",
          "memory.peak_pss_mb", "host.probe_s", "run.warm_runs",
          "trace.coverage_frac"]
NONZERO = {
    "catalog_queries": _EVERY + [
        "queries.build_s", "queries.build_jobs", "catalyst.analysis_ms",
        "catalyst.optimization_ms", "catalyst.planning_ms", "pyworker.run_s",
        "exec.scan_time_s"],
    "scene_pipeline": _EVERY + [f"{s}_s" for s in scene.STEPS] + [
        "plans.run_sequence_job_jobs", "output.stored_mb",
        "output.stored_files"],
}


def run(workload: str, trace: int, tamper: bool = False) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--size", "tiny"] + (["--tamper"] if tamper else [])
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600, check=False)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{cmd} exited {proc.returncode}:\n"
                           f"{proc.stderr[-3000:]}")
    return json.loads(lines[-1])


def check_result(res: dict, want_units: dict[str, str]) -> list[str]:
    bad = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        bad.append(f"result keys {sorted(res)}")
    got_units = {k: v.get("unit") for k, v in res["metrics"].items()}
    if got_units != want_units:
        bad.append(f"metrics/units differ: got {got_units}, want {want_units}")
    for k, v in res["metrics"].items():
        if not isinstance(v.get("value"), numbers.Real):
            bad.append(f"{k} value {v.get('value')!r} is not a number")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        bad.append(f"untouched outputs did not verify: {res}")
    return bad


def check_measured(res: dict, names: list[str]) -> list[str]:
    return [f"{k} reads {res['metrics'][k]['value']}, not measured"
            for k in names if not res["metrics"][k]["value"] > 0]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in spec[key]}
            res = run(wl, trace)
            bad = check_result(res, want)
            if trace and not bad:
                bad = check_measured(res, NONZERO[wl])
            problems += [f"{wl} trace={trace}: {p}" for p in bad]
        res = run(wl, 0, tamper=True)
        if res["correct"] or res["failed"] == 0:
            problems.append(f"{wl}: a tampered output passed verification")
        print(f"selftest: {wl} done", file=sys.stderr)
    for p in problems:
        print(f"selftest: FAIL {p}")
    print("selftest: " + ("FAILED" if problems else "ok"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
