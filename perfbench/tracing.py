"""Spans recorded around the benchmark's calls into the engine, and the
Spark per-task metrics of those calls, read back from the event log.

A span is (name, start, end, parent, run id). Spans stay in memory and
are written out once, when the run ends. When job groups are on, every
Spark job started inside a span carries that span's id as its job
group, so the event log can attribute stages and tasks to spans.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

# Spark's SQL metrics of the Arrow/Python boundary (PythonSQLMetrics)
PYTHON_METRICS = {
    "data sent to Python workers": "spark.to_python_mb",
    "data returned from Python workers": "spark.from_python_mb",
    "time to start Python workers": "spark.python_boot_s",
    "time to initialize Python workers": "spark.python_init_s",
    "time to run Python workers": "spark.python_run_s",
}
MB = 1024.0 * 1024.0
# SQL metric type -> factor to MB or seconds
UNIT_SCALE = {"size": 1.0 / MB, "timing": 1e-3, "nsTiming": 1e-9}


class Tracer:
    """Records spans; optionally tags Spark jobs with the open span."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.spark = None  # set while job groups are on
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, rec: dict | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"{self.run_id}:{rec['id']}", rec["name"])

    def seconds(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def descendants(self, root: dict) -> set[int]:
        """Ids of ``root`` and every span opened inside it."""
        out = {root["id"]}
        for s in self.spans:  # parents precede children
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _plan_metric_types(node: dict, into: dict[int, str]) -> None:
    """accumulator id -> SQL metric type ('size', 'timing' in ms,
    'nsTiming', ...) over a physical plan tree."""
    for m in node.get("metrics", []):
        into[m["accumulatorId"]] = m["metricType"]
    for child in node.get("children", []):
        _plan_metric_types(child, into)


def spark_metrics(event_dir: str, run_id: str, span_ids: set[int],
                  expect_python: bool) -> tuple[dict[str, float], list[str]]:
    """Task metrics of every Spark job whose job group is one of
    ``span_ids``, summed, from the event log(s) in ``event_dir``; and the
    reasons the figures cannot be trusted: no job or task matched, a
    Python metric without a known SQL metric type, or (``expect_python``)
    no data sent to the Python workers."""
    groups = {f"{run_id}:{i}" for i in span_ids}
    jobs = 0
    stage_owner: dict[int, bool] = {}  # stage id -> ran for a traced job
    metric_types: dict[int, str] = {}
    tasks: list[dict] = []
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if "sparkPlanInfo" in ev:  # SQL execution start / AQE update
                    _plan_metric_types(ev["sparkPlanInfo"], metric_types)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    mine = props.get("spark.jobGroup.id") in groups
                    jobs += mine
                    for sid in ev["Stage IDs"]:
                        # a stage runs in the first job that lists it;
                        # later jobs that list it skip it
                        stage_owner.setdefault(sid, mine)
                elif kind == "SparkListenerTaskEnd" and stage_owner.get(ev["Stage ID"]):
                    tasks.append(ev)
    out = {
        "spark.jobs": float(jobs),
        "spark.stages": float(len({t["Stage ID"] for t in tasks})),
        "spark.tasks": float(len(tasks)),
        "spark.failed_tasks": float(sum(t["Task Info"].get("Failed", False) for t in tasks)),
    }
    run_ms: dict[int, list[float]] = {}
    sums = dict.fromkeys(
        ["run_ms", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write", "spill", "result"], 0.0
    )
    py = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
    untyped = set()
    for t in tasks:
        m = t.get("Task Metrics") or {}
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        sums["run_ms"] += m.get("Executor Run Time", 0)
        sums["cpu_ns"] += m.get("Executor CPU Time", 0)
        sums["gc_ms"] += m.get("JVM GC Time", 0)
        sums["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        sums["shuffle_write"] += wr.get("Shuffle Bytes Written", 0)
        sums["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sums["result"] += m.get("Result Size", 0)
        run_ms.setdefault(t["Stage ID"], []).append(m.get("Executor Run Time", 0))
        for acc in t["Task Info"].get("Accumulables", []):
            name = PYTHON_METRICS.get(acc.get("Name"))
            if name is None:
                continue
            scale = UNIT_SCALE.get(metric_types.get(acc["ID"]))
            if scale is None:
                untyped.add(acc["Name"])
            else:
                py[name] += float(acc.get("Update", 0)) * scale
    out.update(
        {
            "spark.executor_run_s": sums["run_ms"] / 1e3,
            "spark.executor_cpu_s": sums["cpu_ns"] / 1e9,
            "spark.gc_s": sums["gc_ms"] / 1e3,
            "spark.shuffle_read_mb": sums["shuffle_read"] / MB,
            "spark.shuffle_write_mb": sums["shuffle_write"] / MB,
            "spark.spill_mb": sums["spill"] / MB,
            "spark.result_mb": sums["result"] / MB,
        }
    )
    out.update(py)
    # skew of the heaviest stage: its slowest task over its median task
    heavy = max(run_ms.values(), key=sum, default=[])
    med = statistics.median(heavy) if heavy else 0.0
    out["spark.task_skew"] = max(heavy) / med if med > 0 else 1.0
    problems = [f"no {what} of the traced pass in the event log"
                for what, key in (("job", "spark.jobs"), ("task", "spark.tasks"))
                if not out[key]]
    problems += [f"no SQL metric type for {name!r}" for name in sorted(untyped)]
    if expect_python and not out["spark.to_python_mb"]:
        problems.append("no data sent to Python workers")
    return out, problems
