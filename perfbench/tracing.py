"""Spans and per-layer counters, recorded from outside the engine.

The benchmark times each layer by wrapping the calls it makes into the
engine's public functions (``Tracer.layer``). With tracing off those
wrappers only call through; with tracing on they also record:

- one span per operation and one child span per layer call (name, start,
  end, parent, operation id), kept in memory and written as JSON at the end;
- py4j round trips and the time spent blocked in them, counted by
  wrapping the gateway client's ``send_command``;
- Spark jobs, stages and tasks per operation, attributed with a per-op job
  tag read back through the JVM ``statusTracker().getJobIdsForTag`` (job
  groups are left alone: the engine's timeout helper sets those);
- executor time, shuffle, spill, GC and Python-worker stage time from the
  run's Spark event log, for the jobs carrying an operation tag.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# RDD scope names of the exec nodes that run Python workers; a scan of a
# Python data source shows only as "BatchScan <source name>"
_PY_SCOPE = re.compile(
    r"ArrowEvalPython|BatchEvalPython|Pandas|MapInArrow|PythonDataSource|PythonUDTF|PythonRDD"
    r"|BatchScan snapshot_table\b"
)
TAG_PREFIX = "perfbench-op-"


def median_or_zero(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Py4jCounter:
    """Counts gateway round trips and the wall time spent blocked in them."""

    def __init__(self, spark):
        self.calls = 0
        self.blocked_s = 0.0
        client = spark.sparkContext._gateway._gateway_client
        inner = client.send_command

        def send_command(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                self.blocked_s += time.perf_counter() - t0
                self.calls += 1

        client.send_command = send_command


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        # seconds per layer call, inside timed operations and during set-up
        self.layer_s: dict[str, list[float]] = defaultdict(list)
        self.setup_s: dict[str, list[float]] = defaultdict(list)
        self.ops: list[dict] = []
        self.py4j: Py4jCounter | None = None
        self._spark = None
        self._op: dict | None = None
        self._t0 = time.perf_counter()

    def attach(self, spark) -> None:
        """Start counting py4j traffic on ``spark``'s gateway (traced runs)."""
        self._spark = spark
        if self.enabled:
            self.py4j = Py4jCounter(spark)

    def layer(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` as one call into layer ``name``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            op = self._op
            (self.layer_s if op else self.setup_s)[name].append(t1 - t0)
            self.spans.append(
                {
                    "name": name,
                    "start": t0 - self._t0,
                    "end": t1 - self._t0,
                    "parent": op["span"] if op else None,
                    "op_id": op["op_id"] if op else None,
                }
            )

    @contextmanager
    def op(self, op_id: int, kind: str):
        """One timed operation: its span, py4j traffic and Spark jobs."""
        if not self.enabled:
            yield
            return
        rec = {"op_id": op_id, "kind": kind, "span": len(self.spans)}
        sc = self._spark.sparkContext
        tag = f"{TAG_PREFIX}{op_id}"
        sc.addJobTag(tag)
        calls0, blocked0 = self.py4j.calls, self.py4j.blocked_s
        self.spans.append(None)  # placeholder keeps the op span before its children
        self._op = rec
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._op = None
            rec["py4j_calls"] = self.py4j.calls - calls0
            rec["py4j_blocked_s"] = self.py4j.blocked_s - blocked0
            sc.removeJobTag(tag)
            self.spans[rec["span"]] = {
                "name": f"op:{kind}",
                "start": t0 - self._t0,
                "end": t1 - self._t0,
                "parent": None,
                "op_id": op_id,
            }
            rec["wall_s"] = t1 - t0
            rec.update(self._job_counts(tag))
            self.ops.append(rec)

    def _job_counts(self, tag: str) -> dict:
        st = self._spark.sparkContext._jsc.sc().statusTracker()
        jobs = stages = tasks = failed = 0
        for job_id in st.getJobIdsForTag(tag):
            jobs += 1
            info = st.getJobInfo(job_id)
            if not info.isDefined():
                continue
            for sid in info.get().stageIds():
                sinfo = st.getStageInfo(sid)
                if not sinfo.isDefined():
                    continue
                s = sinfo.get()
                # skipped stages (reused shuffle output) run no tasks
                if s.numCompletedTasks() + s.numFailedTasks():
                    stages += 1
                tasks += s.numCompletedTasks() + s.numFailedTasks()
                failed += s.numFailedTasks()
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)

    def op_metrics(self) -> dict[str, float]:
        """Per-operation Spark and py4j counters of the traced run."""
        ops = self.ops
        n = max(len(ops), 1)
        blocked = [o["py4j_blocked_s"] for o in ops]
        return {
            "spark.jobs_per_op": sum(o["jobs"] for o in ops) / n,
            "spark.stages_per_op": sum(o["stages"] for o in ops) / n,
            "spark.tasks_per_op": sum(o["tasks"] for o in ops) / n,
            "spark.failed_tasks": float(sum(o["failed_tasks"] for o in ops)),
            "py4j.calls_per_op": sum(o["py4j_calls"] for o in ops) / n,
            "py4j.blocked_s": median_or_zero(blocked),
            "driver.python_s": median_or_zero([o["wall_s"] - o["py4j_blocked_s"] for o in ops]),
        }


def event_log_metrics(log_dir: str, n_ops: int) -> dict[str, float]:
    """Executor-side totals of the tagged (timed) jobs, per operation."""
    stage_of_job: dict[int, list[int]] = {}
    tagged_jobs: set[int] = set()
    py_stages: set[int] = set()
    run_ms = gc_ms = py_ms = 0
    shuffle = spill = 0
    task_ends = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
                    if TAG_PREFIX in tags:
                        tagged_jobs.add(ev["Job ID"])
                    stage_of_job[ev["Job ID"]] = ev["Stage IDs"]
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    scopes = " ".join(str(r.get("Scope", "")) + str(r.get("Name", "")) for r in info.get("RDD Info", []))
                    if _PY_SCOPE.search(scopes):
                        py_stages.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append(ev)
    timed_stages = {s for j in tagged_jobs for s in stage_of_job.get(j, [])}
    for ev in task_ends:
        if ev["Stage ID"] not in timed_stages:
            continue
        m = ev.get("Task Metrics") or {}
        run_ms += m.get("Executor Run Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        if ev["Stage ID"] in py_stages:
            py_ms += m.get("Executor Run Time", 0)
    n = max(n_ops, 1)
    return {
        "spark.executor_run_s": run_ms / 1000.0 / n,
        "spark.shuffle_bytes": shuffle / n,
        "spark.spill_bytes": spill / n,
        "spark.gc_s": gc_ms / 1000.0 / n,
        "pyworker.udf_s": py_ms / 1000.0 / n,
    }
