"""Benchmark for worlddatapipeline_spark: one workload per run, in a fresh
process on ``local[<nproc>]``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The last stdout line is the result,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
for ``--trace 0``, the per-layer metrics for ``--trace 1``.  README.md
describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import scene

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
REQUIRED = ["bench.py", "tools/datagen.py", "tools/check_oracle.py",
            "worlddatapipeline_spark/__init__.py"]
WORKLOADS = ["catalog_queries", "scene_pipeline"]
# scale factor of the generated tables, and scenes in the scene tree
SIZES = {"full": (0.1, 8), "tiny": (0.001, 5)}
RUN_DEADLINE_S = 170  # the whole run, inputs and workers included

END_TO_END = {"setup_s": "s", "cold_wall_s": "s", "wall_s": "s"}
PER_LAYER = {
    "session.get_spark_s": "s", "session.load_tables_s": "s",
    "session.load_tables_jobs": "count",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.cold_extra_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.exec_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.scan_time_s": "s", "exec.gc_s": "s",
    "exec.task_skew": "ratio",
    "pyworker.boot_s": "s", "pyworker.run_s": "s", "pyworker.cold_boot_s": "s",
    "storage.cached_rdds_end": "count", "storage.mem_mb_end": "MB",
    "memory.peak_pss_mb": "MB",
    **{f"{s}_s": "s" for s in scene.STEPS},
    "plans.run_sequence_job_jobs": "count",
    "output.stored_mb": "MB", "output.stored_files": "count",
    "host.probe_s": "s", "run.warm_runs": "count", "run.op_p50_s": "s",
    "trace.coverage_frac": "ratio",
}
# per-layer metrics a workload does not exercise: they read 0 there.  Every
# other one must come out of the traced run, or the run fails.
IDLE_LAYERS = {
    "catalog_queries": [f"{s}_s" for s in scene.STEPS]
    + ["plans.run_sequence_job_jobs"],
    "scene_pipeline": ["queries.build_s", "queries.build_jobs",
                       "catalyst.analysis_ms", "catalyst.optimization_ms",
                       "catalyst.planning_ms"],
}
# the files whose code a run measures: untraced walls are kept per
# fingerprint of these, so a traced run compares with the same code
CODE_GLOBS = ["bench.py", "tools/*.py", "worlddatapipeline_spark/**/*.py",
              "perfbench/*.py"]


def host_probe() -> float:
    """A fixed CPU loop: tells a slow host window from a regression."""
    t = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x ^= i
    return time.perf_counter() - t


def prepare_inputs(workload: str, seed: int, size: str) -> str:
    """Generate the seed's inputs once; later runs reuse them."""
    sf, n_scenes = SIZES[size]
    base = os.path.join(WORK, "inputs", f"{size}-seed{seed}")
    part = "scene" if workload == "scene_pipeline" else "tables"
    final = os.path.join(base, part)
    if os.path.isdir(final):
        return base
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with contextlib.redirect_stdout(sys.stderr):
        if part == "tables":
            sys.path.insert(0, os.path.join(ROOT, "tools"))
            import datagen

            datagen.SEED = seed
            datagen.gen(sf, tmp)
        else:
            scene.generate(seed, n_scenes, tmp)
    os.rename(tmp, final)
    return base


def _proc_stat(pid: int) -> tuple[str, int] | None:
    """(state, session id) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return fields[0], int(fields[3])


def session_members(sid: int) -> list[int]:
    """The live (not zombie) processes of a session.  The worker leads its
    own session; the JVM and the Python workers it starts stay in it (the
    PySpark daemon makes its own process group, not its own session)."""
    out = []
    for name in os.listdir("/proc"):
        st = _proc_stat(int(name)) if name.isdigit() else None
        if st and st[1] == sid and st[0] != "Z":
            out.append(int(name))
    return out


def stop_session(sid: int) -> None:
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        for pid in session_members(sid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        deadline = time.monotonic() + wait_s
        while session_members(sid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not session_members(sid):
            return


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (the forked Python workers) split among them, not counted
    once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


def run_worker(extra: list[str], timeout_s: float,
               sample_memory: bool) -> tuple[dict, int]:
    """Start worker.py in a fresh process; return its result and, when
    ``sample_memory``, the peak memory (PSS) of its session, sampled
    once a second."""
    run_dir = os.path.join(WORK, "run")
    result = os.path.join(run_dir, "result.json")
    with contextlib.suppress(FileNotFoundError):
        os.remove(result)
    # JVM and Python temp files go here; the JVM's perf-data file (which
    # ignores java.io.tmpdir) is kept in memory
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ,
               PYTHONPATH=ROOT,
               PYSPARK_PYTHON=sys.executable,
               SPARK_GRAFT_CPUS=str(os.cpu_count()),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               TMPDIR=tmp,
               JDK_JAVA_OPTIONS=(f"-Djava.io.tmpdir={tmp} "
                                 "-XX:+PerfDisableSharedMem"),
               PERFBENCH_SPAWNED_AT=repr(time.monotonic()))
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             "--result", result, *extra],
            env=env, cwd=ROOT, stdout=log, stderr=log, start_new_session=True)
    peak_pss = 0
    done = threading.Event()

    def sampler():
        nonlocal peak_pss
        while not done.is_set():
            peak_pss = max(peak_pss, sum(_pss_bytes(p)
                                         for p in session_members(proc.pid)))
            done.wait(1.0)

    th = threading.Thread(target=sampler, daemon=True)
    if sample_memory:
        th.start()
    try:
        code = proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        done.set()
        if sample_memory:
            th.join()
        stop_session(proc.pid)
        proc.wait()
    if code != 0 or not os.path.isfile(result):
        with open(log_path, encoding="utf-8", errors="replace") as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"worker exited with {code}; log tail:\n{tail}")
    return _read_json(result), peak_pss


def code_fingerprint() -> str:
    h = hashlib.sha1()
    for pattern in CODE_GLOBS:
        for path in sorted(glob.glob(os.path.join(ROOT, pattern),
                                     recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()[:12]


def _read_json(path: str) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def fresh_run_dir() -> str:
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "out"))
    os.makedirs(os.path.join(run_dir, "spark-local"))
    return run_dir


def workload_args(args, inputs: str, out: str) -> list[str]:
    extra = ["--workload", args.workload, "--inputs", inputs, "--out", out,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)]
    return extra + (["--tamper"] if args.tamper else [])


def env_record(args, loadavg: float, probes: list[float], spark: str,
               code: str) -> dict:
    commit = "unknown"  # a checkout without its own .git
    if os.path.isdir(os.path.join(ROOT, ".git")):
        with contextlib.suppress(OSError, subprocess.SubprocessError):
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10).stdout.strip() or commit
    return {"workload": args.workload, "seed": args.seed, "size": args.size,
            "trace": args.trace, "nproc": os.cpu_count(),
            "loadavg_start": loadavg,
            "host_probe_s": probes, "spark": spark,
            "commit": commit, "code": code}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test only: tiny inputs, and a corrupted output that
    # verification must reject
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    p.add_argument("--tamper", action="store_true")
    args = p.parse_args()
    started = time.monotonic()

    def time_left() -> float:
        return RUN_DEADLINE_S - (time.monotonic() - started)

    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not a worlddatapipeline_spark checkout, missing "
              f"{missing}", file=sys.stderr)
        return 2
    loadavg = os.getloadavg()[0]
    probes = [host_probe()]
    inputs = prepare_inputs(args.workload, args.seed, args.size)
    code = code_fingerprint()
    walls_dir = os.path.join(WORK, "walls")
    os.makedirs(walls_dir, exist_ok=True)
    walls_key = f"{args.workload}-{args.size}-{code}"

    run_dir = fresh_run_dir()
    res, peak_pss = run_worker(
        workload_args(args, inputs, os.path.join(run_dir, "out")),
        time_left(), sample_memory=bool(args.trace))
    if not args.trace:
        with open(os.path.join(walls_dir, f"{walls_key}-{args.seed}.json"),
                  "w", encoding="utf-8") as fh:
            json.dump({"wall_s": res["wall_s"]}, fh)
    probes.append(host_probe())
    for name, why in {**dict.fromkeys(res["errors"], "raised"),
                      **res["mismatches"]}.items():
        print(f"perfbench: {name} failed: {why}", file=sys.stderr)
    for phase in ("cold", "warm"):
        times = " ".join(f"{n}={t:.3f}" for n, t in res[f"{phase}_by_op"].items())
        print(f"perfbench: {phase} seconds by operation: {times}", file=sys.stderr)
    print(json.dumps({"env": env_record(args, loadavg, probes,
                                         res["spark_version"], code)}))

    if args.trace:
        storage_rdds, storage_bytes = res["storage_end"]
        values = dict.fromkeys(IDLE_LAYERS[args.workload], 0)
        values.update(res["layers"])
        values.update({
            "session.get_spark_s": res["get_spark_s"],
            "queries.cold_extra_s": res["cold_extra_s"],
            "storage.cached_rdds_end": storage_rdds,
            "storage.mem_mb_end": storage_bytes / (1 << 20),
            "output.stored_mb": res["stored_bytes"] / (1 << 20),
            "output.stored_files": res["stored_files"],
            "memory.peak_pss_mb": peak_pss / (1 << 20),
            "host.probe_s": statistics.median(probes),
            "run.warm_runs": res["warm_runs"],
            "run.op_p50_s": res["op_p50_s"],
            "trace.coverage_frac": res["coverage_frac"],
        })
        missing = sorted(set(PER_LAYER) - set(values))
        if missing:
            raise RuntimeError(f"the traced run did not measure {missing}")
        units = PER_LAYER
        for k in PER_LAYER:
            print(f"{k:40s} {values[k]:14.4f} {units[k]}", file=sys.stderr)
        # tracing cost: traced wall_s against the untraced runs of the same
        # code in this checkout; reported here only, as a run never starts
        # an untraced run of its own to get one
        untraced = [_read_json(f)["wall_s"] for f in
                    glob.glob(os.path.join(walls_dir, f"{walls_key}-*.json"))]
        overhead = (f"{res['wall_s'] / statistics.median(untraced) - 1.0:14.4f}"
                    f" ratio (against {len(untraced)} untraced runs)"
                    if untraced else
                    "           n/a (no untraced run of this code here yet)")
        print(f"{'trace.overhead_frac':40s} {overhead}", file=sys.stderr)
    else:
        values = {"setup_s": res["setup_s"],
                  "cold_wall_s": res["cold_wall_s"], "wall_s": res["wall_s"]}
        units = END_TO_END
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
