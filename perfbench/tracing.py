"""Spans around the benchmark's calls into the package, and the per-layer
numbers derived from them and from Spark's uncompressed event log.

A span is (id, name, parent, run, start, end): one per operation, with
child spans for the calls inside it.  Every span runs its Spark jobs under
its own job group, so the event log attributes jobs, stages and tasks to
the span that launched them.  A disabled tracer records nothing.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import Counter, defaultdict

# SQL metrics summed per span, from the task-end accumulator updates (ms)
_SQL_METRICS = {"scan time": "scan_ms",
                "time to start Python workers": "py_boot_ms",
                "time to run Python workers": "py_run_ms"}
CATALYST_PHASES = ("analysis_ms", "optimization_ms", "planning_ms")


class Tracer:
    def __init__(self, sc, enabled: bool, run_id: str):
        self.sc, self.enabled, self.run_id = sc, enabled, run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, phase: str | None = None):
        """A span for ``name``; a top-level span names its ``phase`` (cold,
        warm or probe), a nested one inherits it."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": parent["id"] if parent else None,
               "phase": parent["phase"] if parent else phase}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"s{rec['id']}", name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"s{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def annotate_catalyst(self, df) -> None:
        """Catalyst phase durations of ``df``'s own query execution, on the
        enclosing operation's span."""
        if not self.enabled:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        op = self._stack[0]
        for key in CATALYST_PHASES:
            o = phases.get(key.removesuffix("_ms"))
            if o.isDefined():
                op[key] = o.get().durationMs()

    def _ops(self, phase: str) -> list[dict]:
        return [s for s in self.spans
                if s["parent"] is None and s["phase"] == phase]

    def warm_op_seconds(self) -> float:
        return sum(s["end"] - s["start"] for s in self._ops("warm"))

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    def layer_metrics(self, log: dict) -> dict:
        """Per-layer figures: for each operation, the median over its warm
        executions; summed over operations."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)

        def subtree(s):
            yield s
            for c in children[s["id"]]:
                yield from subtree(c)

        def counters(spans) -> Counter:
            c = Counter()
            for s in spans:
                c.update(log["groups"].get(f"s{s['id']}", {}))
            return c

        per_op: dict[str, list[dict]] = defaultdict(list)
        for op in self._ops("warm"):
            # a record holds only what was measured: a layer an operation
            # never reached has no key, not a 0
            rec = {"op_s": op["end"] - op["start"], **counters(subtree(op))}
            if "py_run_ms" in rec:  # Spark omits a worker-start time of 0
                rec.setdefault("py_boot_ms", 0)
            build = [s for s in children[op["id"]] if s["name"] == "queries.build"]
            if build:
                rec["build_s"] = sum(s["end"] - s["start"] for s in build)
                rec["build_jobs"] = counters(build)["jobs"]
            rec.update((k, op[k]) for k in CATALYST_PHASES if k in op)
            per_op[op["name"]].append(rec)

        out = {}

        def total(metric: str, key: str, scale: float = 1.0) -> None:
            """The median over an operation's warm executions, summed over
            the operations that measured ``key``."""
            meds = [statistics.median(r.get(key, 0) for r in runs)
                    for runs in per_op.values() if any(key in r for r in runs)]
            if meds:
                out[metric] = scale * sum(meds)

        mb = 1.0 / (1 << 20)
        for metric, key, scale in [
            ("queries.build_s", "build_s", 1.0),
            ("queries.build_jobs", "build_jobs", 1.0),
            ("catalyst.analysis_ms", "analysis_ms", 1.0),
            ("catalyst.optimization_ms", "optimization_ms", 1.0),
            ("catalyst.planning_ms", "planning_ms", 1.0),
            ("exec.exec_s", "job_ms", 1e-3),
            ("exec.jobs", "jobs", 1.0),
            ("exec.stages", "stages", 1.0),
            ("exec.tasks", "tasks", 1.0),
            ("exec.shuffle_write_mb", "shuffle_write_bytes", mb),
            ("exec.spill_mb", "spill_bytes", mb),
            ("exec.scan_time_s", "scan_ms", 1e-3),
            ("exec.gc_s", "gc_ms", 1e-3),
            ("pyworker.boot_s", "py_boot_ms", 1e-3),
            ("pyworker.run_s", "py_run_ms", 1e-3),
        ]:
            total(metric, key, scale)

        warm_groups = {f"s{s['id']}" for op in self._ops("warm")
                       for s in subtree(op)}
        warm_stages = [d for sid, d in log["stage_tasks"].items()
                       if log["stage_group"].get(sid) in warm_groups]
        if warm_stages:
            # a stage of fewer than 4 tasks counts as unskewed
            out["exec.task_skew"] = max(
                max(d) / statistics.median(d)
                if len(d) >= 4 and statistics.median(d) > 0 else 1.0
                for d in warm_stages)
        cold = Counter()
        for op in self._ops("cold"):
            cold.update(counters(subtree(op)))
        if "py_run_ms" in cold:
            out["pyworker.cold_boot_s"] = cold["py_boot_ms"] * 1e-3
        for name, runs in per_op.items():
            if "." in name:  # scene steps are named by their public call
                out[f"{name}_s"] = statistics.median(r["op_s"] for r in runs)
                out[f"{name}_jobs"] = statistics.median(r.get("jobs", 0) for r in runs)
        probe = [s for s in self.spans if s["name"] == "session.load_tables"]
        for s in probe:
            out["session.load_tables_s"] = s["end"] - s["start"]
            out["session.load_tables_jobs"] = counters([s])["jobs"]
        return out


def storage_state(sc) -> tuple[int, int]:
    """(cached RDDs, bytes they hold in memory) in the block manager."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() for i in infos)


def read_event_log(log_dir: str) -> dict:
    """Per-job-group counters, and task durations per stage, from the
    event log files in ``log_dir``."""
    groups: dict[str, Counter] = defaultdict(Counter)
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[int]] = defaultdict(list)
    job_group: dict[int, tuple[str, int]] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[e["Job ID"]] = (g, e["Submission Time"])
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = g
                    groups[g]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    g, t0 = job_group[e["Job ID"]]
                    groups[g]["job_ms"] += e["Completion Time"] - t0
                elif kind == "SparkListenerStageCompleted":
                    sid = e["Stage Info"]["Stage ID"]
                    groups[stage_group.get(sid)]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    c = groups[stage_group.get(sid)]
                    info, tm = e["Task Info"], e.get("Task Metrics") or {}
                    c["tasks"] += 1
                    stage_tasks[sid].append(info["Finish Time"] - info["Launch Time"])
                    c["gc_ms"] += tm.get("JVM GC Time", 0)
                    c["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                         + tm.get("Disk Bytes Spilled", 0))
                    c["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics", {})
                        .get("Shuffle Bytes Written", 0))
                    for acc in info.get("Accumulables", []):
                        key = _SQL_METRICS.get(acc.get("Name"))
                        if key:
                            c[key] += int(acc.get("Update", 0))
    return {"groups": groups, "stage_group": stage_group,
            "stage_tasks": stage_tasks}
