"""Per-layer Spark counters from a Spark event log.

The traced run names each call into a layer with a Spark job group
(``job_group``) and records its wall-clock window.  After the SparkContext
stops, ``reduce_event_log`` folds the plain-JSON event log into one record
per layer.

``build_index`` runs its tail stages (docmeta, postings, term_stats,
corpus_stats) on plain driver threads, which do not inherit the caller's
job group.  Jobs of the build are therefore split by what they write: the
SQL execution whose ``InsertIntoHadoopFsRelationCommand`` targets the
``chunks`` directory is the chunks stage, and every later job that starts
inside the build's window, grouped or not, is the tail.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = {
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "py_worker_s": "s",
    "py_bytes_sent": "B",
    "py_bytes_returned": "B",
    "shuffle_write_bytes": "B",
    "shuffle_read_bytes": "B",
    "spill_bytes": "B",
    "gc_s": "s",
    "task_skew": "ratio",
}

BUILD_GROUP = "index_build"
_INSERT = re.compile(r"InsertIntoHadoopFsRelationCommand (\S+?),")
_PY = {
    "time to run Python workers": "py_worker_s",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}


class Tracer:
    """Names calls with Spark job groups and remembers their windows."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.windows: dict[str, tuple[float, float]] = {}

    @contextmanager
    def job_group(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.time() * 1000
        try:
            yield
        finally:
            self.windows[name] = (t0, time.time() * 1000)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def _task_record(e: dict) -> dict:
    m = e.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    rec = {
        "run_ms": m.get("Executor Run Time", 0),
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "py_worker_s": 0.0,
        "py_bytes_sent": 0,
        "py_bytes_returned": 0,
    }
    for acc in e.get("Task Info", {}).get("Accumulables", []):
        key = _PY.get(acc.get("Name"))
        if key:
            v = float(acc.get("Update") or 0)
            rec[key] += v / 1e3 if key == "py_worker_s" else int(v)
    return rec


def reduce_event_log(path: str, layers: list[str], windows: dict) -> dict[str, dict]:
    """One record of ``COUNTERS`` per layer name in ``layers``.

    A layer named ``index_build.chunks`` or ``index_build.tail`` is taken
    from the ``BUILD_GROUP`` window as described in the module docstring;
    any other layer is the job group of the same name.
    """
    jobs = {}  # job id -> (group, execution id, submission ms)
    stage_job = {}
    insert_path = {}  # execution id -> output path of its insert
    tasks = defaultdict(list)  # stage id -> task records
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                p = e.get("Properties") or {}
                jobs[e["Job ID"]] = (
                    p.get("spark.jobGroup.id"),
                    p.get("spark.sql.execution.id"),
                    e.get("Submission Time", 0),
                )
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
            elif ev.endswith("SQLExecutionStart"):
                m = _INSERT.search(json.dumps(e.get("sparkPlanInfo", {})))
                if m:
                    insert_path[str(e["executionId"])] = m.group(1)
            elif ev == "SparkListenerTaskEnd":
                tasks[e["Stage ID"]].append(_task_record(e))

    layer_of_job = {}
    b0, b1 = windows.get(BUILD_GROUP, (0.0, -1.0))
    chunks_jobs = [
        j for j, (g, x, _) in jobs.items()
        if g == BUILD_GROUP and insert_path.get(x, "").rstrip("/").endswith("/chunks")
    ]
    chunks_end = max((jobs[j][2] for j in chunks_jobs), default=float("inf"))
    for j, (g, x, t) in jobs.items():
        if j in chunks_jobs:
            layer_of_job[j] = "index_build.chunks"
        elif g in (BUILD_GROUP, None) and b0 <= t <= b1 and t >= chunks_end:
            layer_of_job[j] = "index_build.tail"
        elif g in layers:
            layer_of_job[j] = g

    out = {}
    for layer in layers:
        js = {j for j, name in layer_of_job.items() if name == layer}
        stages = [s for s, j in stage_job.items() if j in js and tasks.get(s)]
        recs = [r for s in stages for r in tasks[s]]
        rec = {"jobs": len(js), "tasks": len(recs)}
        rec["executor_run_s"] = sum(r["run_ms"] for r in recs) / 1e3
        for key in ("executor_cpu_s", "py_worker_s", "py_bytes_sent", "py_bytes_returned",
                    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_s"):
            rec[key] = sum(r[key] for r in recs)
        # skew of the layer's heaviest stage: slowest task over mean task
        skew = 1.0
        if stages:
            heavy = max(stages, key=lambda s: sum(r["run_ms"] for r in tasks[s]))
            runs = [r["run_ms"] for r in tasks[heavy]]
            mean = sum(runs) / len(runs)
            skew = max(runs) / mean if mean > 0 else 1.0
        rec["task_skew"] = skew
        out[layer] = rec
    return out
