"""Tracing for the benchmark's traced run: spans recorded around calls
into the program's layers, and a parser for Spark's JSON event log.

Spans live in memory (``Spans``) and are written out once, when the
phase ends. Spark runtime counters come from the event log, which the
benchmark turns on from outside the program; each Spark job is
attributed to the timed operation whose job group it carries, or —
for jobs started by the program's internal threads, which do not
inherit the caller's group — to the operation whose time window holds
the job's submission.

Times are epoch seconds (``time.time()``), the clock the event log
uses, so spans and jobs line up.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager

MB = 1024 * 1024
PROGRAM = "searty_spark."


class Spans:
    """In-memory span recorder: (name, start, end, parent, rid)."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.items: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, rid=None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1]["id"] if stack else None,
            "rid": rid if rid is not None or not stack else stack[-1]["rid"],
        }
        with self._lock:
            rec["id"] = len(self.items)
            self.items.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent=None, rid=None) -> None:
        """Record a span measured elsewhere (e.g. a checkpoint record)."""
        with self._lock:
            self.items.append({"id": len(self.items), "name": name, "start": start,
                               "end": end, "parent": parent, "rid": rid})

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span per
        call — the program's own code is left untouched."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, traced)

    def wrap_by_caller(self, owner, attr: str) -> None:
        """Replace the Spark action ``owner.attr`` with a wrapper that
        records a span named after the program module calling it
        (``merge.parquet`` for a write issued in ``searty_spark/merge.py``),
        so the jobs a public call runs from its own body fall in a layer
        span; calls from outside the program record none."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            module = sys._getframe(1).f_globals.get("__name__", "")
            if not module.startswith(PROGRAM):
                return fn(*a, **kw)
            with self.span(f"{module.removeprefix(PROGRAM)}.{attr}"):
                return fn(*a, **kw)

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.items, f)


def read_event_log(lines) -> dict:
    """Jobs and per-stage task totals from Spark event-log lines.

    Returns {"jobs": {id: {start, end, group, stages}},
             "stages": {id: {tasks, cpu_s, shuffle_write_mb, peak_mem_mb}}}
    where a job's ``stages`` are the ones that actually ran (skipped
    stages emit no StageCompleted)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    completed: set[int] = set()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                "stage_ids": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            completed.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            st = stages.setdefault(
                ev["Stage ID"],
                {"tasks": 0, "cpu_s": 0.0, "shuffle_write_mb": 0.0, "peak_mem_mb": 0.0},
            )
            st["tasks"] += 1
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            st["peak_mem_mb"] = max(st["peak_mem_mb"], m.get("Peak Execution Memory", 0) / MB)
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stage_ids"]:
            if sid in completed:
                owner.setdefault(sid, jid)
    for jid, job in jobs.items():
        job["stages"] = [s for s in job.pop("stage_ids") if owner.get(s) == jid]
    return {"jobs": jobs, "stages": stages}


def load_event_logs(directory: str) -> dict:
    """Merge every event-log file under ``directory``: one file per
    application, or one directory of rolled files per application."""
    from pathlib import Path

    jobs: dict = {}
    stages: dict = {}
    # skip Hadoop's ".crc" checksum files and rolled logs' status marker
    files = [p for p in sorted(Path(directory).rglob("*"))
             if p.is_file() and not p.name.startswith((".", "appstatus"))]
    for i, p in enumerate(files):
        with open(p) as f:
            log = read_event_log(f)
        # job and stage ids restart per application: key them per file
        for jid, job in log["jobs"].items():
            job["stages"] = [(i, s) for s in job["stages"]]
            jobs[(i, jid)] = job
        stages.update({(i, k): v for k, v in log["stages"].items()})
    return {"jobs": jobs, "stages": stages}


def union_length(intervals) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def attribute(log: dict, ops: list[dict]) -> list[dict]:
    """Per timed operation ({name, start, end, group}): the Spark jobs it
    ran, their executed stages and task totals, the union of its job
    spans and the driver gap (wall minus that union).

    A job goes to the operation carrying its job group; a job without a
    group goes to the operation whose window holds its submission."""
    by_group = {op["group"]: op for op in ops if op.get("group")}
    per_op = {id(op): [] for op in ops}
    for job in log["jobs"].values():
        op = by_group.get(job["group"]) if job["group"] else None
        if op is None:
            op = next((o for o in ops if o["start"] <= job["start"] <= o["end"]), None)
        if op is not None:
            per_op[id(op)].append(job)
    out = []
    for op in ops:
        jobs = per_op[id(op)]
        stage_ids = [s for j in jobs for s in j["stages"]]
        st = [log["stages"][s] for s in stage_ids if s in log["stages"]]
        wall = op["end"] - op["start"]
        spans = [(j["start"], j["end"] if j["end"] is not None else op["end"]) for j in jobs]
        busy = union_length(_clip(spans, op["start"], op["end"]))
        out.append({
            "name": op["name"],
            "wall_s": wall,
            "jobs": len(jobs),
            "stages": len(st),
            "tasks": sum(s["tasks"] for s in st),
            "executor_cpu_s": sum(s["cpu_s"] for s in st),
            "shuffle_write_mb": sum(s["shuffle_write_mb"] for s in st),
            "peak_task_mem_mb": max((s["peak_mem_mb"] for s in st), default=0.0),
            "job_span_s": busy,
            "driver_gap_s": wall - busy,
        })
    return out


def coverage(op: dict, spans: list[dict], job_spans=()) -> float:
    """Share of an operation's wall attributed to a named layer span
    inside it, or to driver gap (time inside no Spark job): Spark work
    outside every inner span is what it leaves unattributed."""
    lo, hi = op["start"], op["end"]
    inner = [
        (s["start"], s["end"]) for s in spans
        if s["id"] != op.get("id") and s["end"] is not None
        and s["start"] >= lo and s["end"] <= hi
    ]
    if hi <= lo:
        return 1.0
    busy = sorted(_clip(list(job_spans), lo, hi))
    gaps, cur = [], lo
    for s, e in busy:
        if s > cur:
            gaps.append((cur, s))
        cur = max(cur, e)
    if cur < hi:
        gaps.append((cur, hi))
    return union_length(inner + gaps) / (hi - lo)
