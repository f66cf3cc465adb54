"""Spans, Spark event-log attribution, and process counters.

Everything here observes the library from outside: spans wrap the
benchmark's own calls into the library's public functions, Spark jobs
launched inside a span carry the span id as their job description, and
the Spark event log (parsed after the session stops) attributes each
stage's task run time and shuffle bytes to the span that launched it.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# job-description prefix that marks a stage as launched inside a span
JOB_PREFIX = "lfbench:"


class Tracer:
    """Spans held in memory: id, name, parent id, start, end, iteration.

    Span timing is always recorded (two clock reads per span), because
    the end-to-end metrics are read from the same spans. With
    ``traced=True`` the tracer also tags Spark jobs with the innermost
    open span and counts what every public call leaves behind."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[dict] = []
        self.iteration: int | None = None
        self.leaked_rdds = 0
        self.leaked_shm = 0
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, sc) -> None:
        """Attach the live SparkContext (tagging and leak counting)."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, persists: int = 0):
        """Time a block. A span directly under the iteration span is one
        library call plus the action that runs it; when traced, what it
        leaves behind is counted. ``persists`` is how many RDDs the
        benchmark itself persists inside it (a cached result frame), so
        they are not counted against the library."""
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "iter": self.iteration, "start": 0.0, "end": 0.0}
        self.spans.append(rec)
        self._stack.append(rec)
        top = parent is not None and parent["name"] == "iteration"
        before = self._leak_state() if self.traced and top else None
        self._describe(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._describe(self._stack[-1] if self._stack else None)
            if before is not None:
                rdds, shm = self._leak_state()
                self.leaked_rdds += max(0, rdds - before[0] - persists)
                self.leaked_shm += max(0, shm - before[1])

    def _describe(self, rec: dict | None) -> None:
        if not self.traced or self._sc is None:
            return
        self._sc.setJobDescription(
            None if rec is None else f"{JOB_PREFIX}{rec['id']}:{rec['name']}")

    def _leak_state(self) -> tuple[int, int]:
        rdds = self._sc._jsc.getPersistentRDDs().size() if self._sc else 0
        return rdds, shm_file_count()

    def seconds(self, name: str, iteration: int) -> float:
        """Summed duration of the spans called ``name`` in an iteration."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["iter"] == iteration)

    def top_level(self, iteration: int) -> list[dict]:
        """Spans of an iteration whose parent is the iteration span."""
        roots = [s["id"] for s in self.spans
                 if s["iter"] == iteration and s["name"] == "iteration"]
        return [s for s in self.spans if s["parent"] in roots]

    def descendants(self, span_id: int) -> set[int]:
        out = {span_id}
        for s in self.spans:  # parents precede children in the list
            if s["parent"] in out:
                out.add(s["id"])
        return out


def shm_file_count() -> int:
    try:
        return len(os.listdir("/dev/shm"))
    except OSError:
        return 0


def stage_costs(eventlog_dir: str, app_id: str) -> dict[int, dict]:
    """Per span id: summed task run time (s), task CPU time (s),
    shuffle bytes written and read, and task count — from the stages
    whose submitting job carried that span's description."""
    paths = sorted(os.path.join(d, f) for d, _, files in os.walk(eventlog_dir)
                   for f in files
                   if app_id in f and not f.startswith("appstatus"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {eventlog_dir}")
    stage_span: dict[tuple, int] = {}
    out: dict[int, dict] = {}
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            desc = (ev.get("Properties") or {}).get(
                "spark.job.description") or ""
            if desc.startswith(JOB_PREFIX):
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_span[key] = int(desc[len(JOB_PREFIX):]
                                      .split(":", 1)[0])
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            m = ev.get("Task Metrics")
            if sid is None or not m:
                continue
            acc = out.setdefault(sid, {"exec_s": 0.0, "cpu_s": 0.0,
                                       "shuffle_write": 0,
                                       "shuffle_read": 0, "tasks": 0})
            acc["exec_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            w = m.get("Shuffle Write Metrics") or {}
            r = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_write"] += w.get("Shuffle Bytes Written", 0)
            acc["shuffle_read"] += (r.get("Remote Bytes Read", 0)
                                    + r.get("Local Bytes Read", 0))
            acc["tasks"] += 1
    return out


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            yield from fh


def span_cost(costs: dict[int, dict], tracer: Tracer, span_id: int,
              field: str) -> float:
    """A cost field summed over a span and all spans nested in it."""
    return sum(costs[s][field] for s in tracer.descendants(span_id)
               if s in costs)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields follow the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (driver, JVM, Python workers)."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_peak_rss_mb(root: int) -> float:
    """Summed peak resident set (VmHWM) of a process tree, in MB."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
