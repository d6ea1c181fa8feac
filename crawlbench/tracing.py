"""Tracing for the benchmark's traced runs: spans around calls into the
program's layers, recorded from the benchmark's own files, plus the Spark
event log.

Spans are kept in memory. A span's parent is the innermost open span on
the same thread; a span opened on a worker thread with nothing open on
that thread (the crawl wave submits its table writes to a thread pool) is
parented to the innermost span open on the main thread, the call that
caused it. Self time is a span's duration minus the part of it that its
child spans cover.

Wrappers that run Spark jobs also set the calling thread's job
description to the span name, so event-log jobs map back to the layer
(PySpark pins each Python thread to its own JVM thread, and the job
description is a per-thread local property).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

JOB_DESCRIPTION = "spark.job.description"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.captured: dict[str, list] = defaultdict(list)
        self._patches: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._next = 0

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, job_description: bool = False):
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
            parent = stack[-1] if stack else (
                self._main_stack[-1] if self._main_stack else None
            )
        # label the thread's jobs unless an enclosing layer already did
        # (a query's checkpoints stay the query's jobs)
        label = job_description and not self.sc.getLocalProperty(JOB_DESCRIPTION)
        if label:
            self.sc.setJobDescription(name)
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            if label:
                self.sc.setLocalProperty(JOB_DESCRIPTION, None)
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent))

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] += n

    # -- patching ------------------------------------------------------------
    def patch(self, owner, attr: str, make_wrapper) -> bool:
        """Replace ``owner.attr`` with ``make_wrapper(original)`` until
        ``restore``. Returns False (and patches nothing) when the attribute
        does not exist, so a renamed layer shows up as a zero metric."""
        orig = getattr(owner, attr, None)
        if orig is None:
            return False
        wrapped = functools.wraps(orig)(make_wrapper(orig))
        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))
        return True

    def wrap_span(self, owner, attr: str, name: str) -> bool:
        """Patch a callable so each call runs inside a span."""

        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(name):
                    return orig(*args, **kwargs)

            return wrapper

        return self.patch(owner, attr, make)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis ------------------------------------------------------------
    def durations(self, prefix: str, lo: float = 0.0, hi: float = float("inf")):
        return [
            s.end - s.start
            for s in self.spans
            if s.name.startswith(prefix) and s.start >= lo and s.end <= hi
        ]

    def self_time(self, prefix: str) -> float:
        """Summed self time of the spans whose name starts with ``prefix``."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        total = 0.0
        for s in self.spans:
            if s.name.startswith(prefix):
                covered = union_length(
                    (max(c.start, s.start), min(c.end, s.end)) for c in children[s.sid]
                )
                total += (s.end - s.start) - covered
        return total


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


# -- Spark event log -----------------------------------------------------------


def event_files(log_dir: str) -> list[str]:
    """Event-log files in write order: a plain file per app, or (rolling
    logs, Spark's default) an ``eventlog_v2_*`` directory of
    ``events_<n>_<app>`` parts."""
    files = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            files += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        else:
            files.append(path)
    return files


@dataclass
class EventLog:
    jobs: list[dict]  # {id, submit, description, stages: [ids]}
    stages: dict[int, dict]  # id -> {submit, end}
    tasks: list[dict]  # {stage, dur_s, run_s, gc_s, shuffle_w, shuffle_r, spill}

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        """Parse every event-log file under ``log_dir`` (one per app)."""
        jobs: dict[int, dict] = {}
        stages: dict[int, dict] = {}
        tasks: list[dict] = []
        for path in event_files(log_dir):
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jobs[ev["Job ID"]] = dict(
                            id=ev["Job ID"],
                            submit=ev["Submission Time"] / 1000.0,
                            description=props.get(JOB_DESCRIPTION) or "",
                            stages=list(ev.get("Stage IDs", [])),
                        )
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        if "Submission Time" not in info:
                            continue  # skipped stage: never ran
                        stages[info["Stage ID"]] = dict(
                            submit=info["Submission Time"] / 1000.0,
                            end=info["Completion Time"] / 1000.0,
                        )
                    elif kind == "SparkListenerTaskEnd":
                        tm = ev.get("Task Metrics") or {}
                        ti = ev["Task Info"]
                        sr = tm.get("Shuffle Read Metrics") or {}
                        sw = tm.get("Shuffle Write Metrics") or {}
                        tasks.append(
                            dict(
                                stage=ev["Stage ID"],
                                dur_s=(ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                                run_s=tm.get("Executor Run Time", 0) / 1000.0,
                                gc_s=tm.get("JVM GC Time", 0) / 1000.0,
                                shuffle_w=sw.get("Shuffle Bytes Written", 0),
                                shuffle_r=sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0),
                                spill=tm.get("Memory Bytes Spilled", 0)
                                + tm.get("Disk Bytes Spilled", 0),
                            )
                        )
        return cls(sorted(jobs.values(), key=lambda j: j["id"]), stages, tasks)

    def _of_jobs(self, jobs: list[dict]) -> "EventLog":
        sids = {s for j in jobs for s in j["stages"] if s in self.stages}
        return EventLog(
            jobs,
            {s: self.stages[s] for s in sids},
            [t for t in self.tasks if t["stage"] in sids],
        )

    def window(self, lo: float, hi: float) -> "EventLog":
        """The jobs submitted in [lo, hi], with their stages and tasks."""
        return self._of_jobs([j for j in self.jobs if lo <= j["submit"] <= hi])

    def by_description(self, prefix: str) -> "EventLog":
        """The jobs whose description starts with ``prefix``."""
        return self._of_jobs(
            [j for j in self.jobs if j["description"].startswith(prefix)]
        )

    def stage_covered_s(self, lo: float, hi: float) -> float:
        return union_length(
            (max(s["submit"], lo), min(s["end"], hi)) for s in self.stages.values()
        )

    def executor_metrics(self, wall_s: float, cores: int) -> dict[str, float]:
        """The ``exec.*`` per-layer metrics over this log's tasks."""
        task_s = sum(t["run_s"] for t in self.tasks)
        # skew: max/median task time in the widest stage (most tasks) —
        # where one hot key or host would show
        skew = 0.0
        per_stage: dict[int, list[float]] = defaultdict(list)
        for t in self.tasks:
            per_stage[t["stage"]].append(t["dur_s"])
        if per_stage:
            widest = max(per_stage.values(), key=len)
            med = statistics.median(widest)
            skew = max(widest) / med if med > 0 else 1.0
        return {
            "exec.task_s": task_s,
            "exec.cpu_busy_frac": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
            "exec.gc_s": sum(t["gc_s"] for t in self.tasks),
            "exec.shuffle_write_bytes": float(sum(t["shuffle_w"] for t in self.tasks)),
            "exec.shuffle_read_bytes": float(sum(t["shuffle_r"] for t in self.tasks)),
            "exec.spill_bytes": float(sum(t["spill"] for t in self.tasks)),
            "exec.task_skew": skew,
            "exec.jobs": float(len(self.jobs)),
            "exec.stages": float(len(self.stages)),
        }
