"""Spans recorded by the benchmark around its own calls into the engine,
plus the Spark-side numbers for each span.

With tracing off, `Tracer.span` is a no-op context manager. With tracing on,
each span:
- records name, start, end, parent and workload id, in memory;
- tags the Spark jobs it launches with `setJobGroup(<span id>, <span name>)`,
  which also sets the job description;
- counts those jobs through `statusTracker()` when it closes.

Task-level numbers (executor run time, GC, shuffle, spill, bytes in/out)
come from Spark's event log, read after the session stops; see
`EventLog`.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool, workload: str):
        self.enabled = enabled
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, sc) -> None:
        self._sc = sc

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sid = f"s{len(self.spans)}"
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "workload": self.workload,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self._sc is not None:
            self._sc.setJobGroup(sid, name)  # also sets the job description
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                rec["spark_jobs"] = len(self._sc.statusTracker().getJobIdsForGroup(sid))
                if parent is not None:
                    self._sc.setJobGroup(parent["id"], parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setJobDescription(None)

    def subtree(self, root: dict) -> list[dict]:
        """root and every span below it."""
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s["id"]])
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def jobs_under(self, root: dict) -> int:
        return sum(s.get("spark_jobs", 0) for s in self.subtree(root))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class EventLog:
    """Per-job-group task totals parsed from one application's event log."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "*")))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
        stage_group: dict[int, str] = {}
        self.jobs: dict[str, list[tuple[int, int]]] = defaultdict(list)
        job_start: dict[int, tuple[str, int]] = {}
        # group -> stage -> list of task records
        self.tasks: dict[str, dict[int, list[dict]]] = defaultdict(lambda: defaultdict(list))
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    job_start[ev["Job ID"]] = (group, ev["Submission Time"])
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_start:
                    group, t0 = job_start[ev["Job ID"]]
                    self.jobs[group].append((t0, ev["Completion Time"]))
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks[group][ev["Stage ID"]].append(
                        {
                            "run_ms": m.get("Executor Run Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            "read": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                            "written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        }
                    )

    def totals(self, groups) -> dict:
        """Task totals over the given job groups (span ids)."""
        tot = {"tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_write": 0, "spill": 0,
               "read": 0, "written": 0, "job_wall_ms": 0, "task_skew": 0.0}
        biggest = []
        for g in groups:
            for t0, t1 in self.jobs.get(g, ()):
                tot["job_wall_ms"] += t1 - t0
            for stage_tasks in self.tasks.get(g, {}).values():
                tot["tasks"] += len(stage_tasks)
                for t in stage_tasks:
                    for k in ("run_ms", "gc_ms", "shuffle_write", "spill", "read", "written"):
                        tot[k] += t[k]
                if sum(t["run_ms"] for t in stage_tasks) > sum(t["run_ms"] for t in biggest):
                    biggest = stage_tasks
        if biggest:
            runs = sorted(t["run_ms"] for t in biggest)
            med = runs[len(runs) // 2]
            tot["task_skew"] = runs[-1] / med if med else 1.0
        return tot
