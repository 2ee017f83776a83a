"""Spans around calls into the dedup engine, and Spark event-log counters
attributed to them by job tag.

A span is (id, name, start, end, parent, run_id). Spans are kept in memory
and written out once, when the benchmark ends. With tracing on, every span
also adds a Spark job tag for its duration, so each job in the event log
names the spans that were open when it started; a job belongs to the
innermost of them and becomes a child span of it.

A layer's self time is the summed duration of its spans minus the part of
each span that its child spans (nested calls, then Spark jobs) cover.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
import uuid

from .data import cpu_seconds


class Tracer:
    """Records spans; with `spark` given, tags the Spark jobs each span runs."""

    def __init__(self, spark=None):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sp = {
            "id": len(self.spans),
            "name": name,
            "cpu_start": cpu_seconds(),
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        tag = f"pb-{self.run_id}-{sp['id']}"
        if self.spark is not None:
            self.spark.sparkContext.addJobTag(tag)
        try:
            yield sp
        finally:
            if self.spark is not None:
                self.spark.sparkContext.removeJobTag(tag)
            sp["end"] = time.time()
            sp["cpu_end"] = cpu_seconds()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """`fn` with every call inside a span called `name`."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- event log ---------------------------------------------------------
    def attach_event_log(self, log_dir: str) -> None:
        """Add one child span per Spark job found in the event log under
        `log_dir`, with its task records, beneath the innermost tagged span
        that was open when the job started. Jobs without a tag of this run
        are dropped."""
        prefix = f"pb-{self.run_id}-"
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        tasks: list[tuple[int, dict]] = []
        # Spark writes rolling logs: a directory per application holding
        # events_<n>_<app> files plus an appstatus marker
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        tags = ev.get("Properties", {}).get("spark.job.tags", "")
                        owners = [
                            int(t[len(prefix):])
                            for t in tags.split(",")
                            if t.startswith(prefix)
                        ]
                        if not owners:
                            continue
                        jid = ev["Job ID"]
                        jobs[jid] = {
                            "parent": max(owners),  # innermost: opened last
                            "start": ev["Submission Time"] / 1000.0,
                            "end": None,
                            "tasks": [],
                        }
                        for sid in ev.get("Stage IDs", []):
                            stage_job.setdefault(sid, jid)
                    elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerTaskEnd":
                        tasks.append((ev["Stage ID"], ev))
        for sid, ev in tasks:
            jid = stage_job.get(sid)
            if jid is not None:
                jobs[jid]["tasks"].append(_task_record(ev))
        for jid in sorted(jobs):
            job = jobs[jid]
            self.spans.append(
                {
                    "id": len(self.spans),
                    "name": f"job:{jid}",
                    "start": job["start"],
                    "end": job["end"] if job["end"] is not None else job["start"],
                    "parent": job["parent"],
                    "run_id": self.run_id,
                    "tasks": job["tasks"],
                }
            )

    # -- reports -----------------------------------------------------------
    def self_seconds(self) -> dict[str, float]:
        """Self time per span name, in seconds."""
        children: dict[int, list[dict]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            covered = _union_length(
                [
                    (max(c["start"], sp["start"]), min(c["end"], sp["end"]))
                    for c in children.get(sp["id"], [])
                ]
            )
            out[sp["name"]] = out.get(sp["name"], 0.0) + (
                sp["end"] - sp["start"] - covered
            )
        return out

    def wall_seconds(self, name: str) -> float:
        return sum(sp["end"] - sp["start"] for sp in self.spans if sp["name"] == name)

    def counters(self, name: str) -> dict[str, float]:
        """Event-log counters of the jobs run directly under spans `name`."""
        ids = {sp["id"] for sp in self.spans if sp["name"] == name}
        jobs = [
            sp
            for sp in self.spans
            if sp["parent"] in ids and sp["name"].startswith("job:")
        ]
        tasks = [t for j in jobs for t in j["tasks"]]
        run = [t["run_s"] for t in tasks]
        return {
            "jobs": len(jobs),
            "task_s": sum(run),
            "python_worker_s": sum(t["python_s"] for t in tasks),
            "jvm_cpu_s": sum(t["cpu_s"] for t in tasks),
            "shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / 1e6,
            "spill_mb": sum(t["spill_b"] for t in tasks) / 1e6,
            "max_task_s": max(run, default=0.0),
            "median_task_s": statistics.median(run) if run else 0.0,
        }

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _task_record(ev: dict) -> dict:
    info = ev.get("Task Info", {})
    tm = ev.get("Task Metrics") or {}
    # SQL-metric updates arrive as strings in the event log
    py_ms = sum(
        float(acc.get("Update", 0))
        for acc in info.get("Accumulables", [])
        if acc.get("Name") == "time to run Python workers"
    )
    return {
        "run_s": tm.get("Executor Run Time", 0) / 1000.0,
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "python_s": py_ms / 1000.0,
        "shuffle_write_b": (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        ),
        "spill_b": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
    }


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, reach = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if reach is None or a > reach:
            total += b - a
            reach = b
        elif b > reach:
            total += b - reach
            reach = b
    return total
