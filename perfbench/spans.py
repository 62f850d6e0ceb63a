"""Spans recorded around the benchmark's calls into each layer, and the
digest of Spark's event log per job group.

Spans are kept in memory and written once, when the run ends. Each span
also names the Spark job group of the jobs it starts, so the event log
can be folded back onto the same layers.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    trace_id: str
    span_id: int
    parent_id: int | None
    name: str
    run: int
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """One span per layer call. The spans of one traced run share the
    call's trace id and their run index.

    ``sc`` is the SparkContext whose job group each span sets, or None
    to record spans without tagging Spark jobs.
    """

    sc: object = None
    trace_id: str = field(default_factory=lambda: uuid.uuid4().hex[:16])
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, run: int):
        parent = self._stack[-1] if self._stack else None
        s = Span(self.trace_id, len(self.spans), parent.span_id if parent else None, name, run, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(f"{name}#{run}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(f"{parent.name}#{run}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[int, float]:
        """span_id -> duration minus the part of it its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent_id is not None:
                kids.setdefault(s.parent_id, []).append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(kids.get(s.span_id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.span_id] = s.duration - covered
        return out

    def write(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                rec = {k: getattr(s, k) for k in ("trace_id", "span_id", "parent_id", "name", "run", "start", "end")}
                f.write(json.dumps({**rec, "self_s": st[s.span_id]}) + "\n")


def event_log_files(log_dir: str) -> list[str]:
    """Event files of every application logged under ``log_dir``: the
    rolling ``eventlog_v2_*/events_*`` layout Spark writes."""
    return sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))


def digest_event_log(paths: list[str]) -> dict[str, dict]:
    """Per job group: tasks, failed tasks, shuffle read/write bytes,
    spill bytes, max/median task seconds, the task skew of the group's
    heaviest stage (max ÷ median task time), and the seconds tasks
    waited for a free core after their stage was submitted."""
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, float] = {}
    tasks: dict[int, list[dict]] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    sid = e["Stage Info"]["Stage ID"]
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[sid] = group
                    if "Submission Time" in e["Stage Info"]:
                        stage_submit[sid] = e["Stage Info"]["Submission Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(e["Stage ID"], []).append(
                        {
                            "launch": info["Launch Time"] / 1000.0,
                            "secs": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                            "failed": bool(info.get("Failed")) or e["Task End Reason"].get("Reason") != "Success",
                            "read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                            "write": wr.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    out: dict[str, dict] = {}
    for sid, ts in tasks.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        g = out.setdefault(
            group,
            {"tasks": 0, "tasks_failed": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
             "spill_bytes": 0, "wait_s": 0.0, "_secs": [], "_stages": []},
        )
        g["tasks"] += len(ts)
        g["tasks_failed"] += sum(t["failed"] for t in ts)
        g["shuffle_read_bytes"] += sum(t["read"] for t in ts)
        g["shuffle_write_bytes"] += sum(t["write"] for t in ts)
        g["spill_bytes"] += sum(t["spill"] for t in ts)
        if sid in stage_submit:
            g["wait_s"] += sum(max(0.0, t["launch"] - stage_submit[sid]) for t in ts)
        secs = [t["secs"] for t in ts]
        g["_secs"] += secs
        g["_stages"].append(secs)
    for g in out.values():
        secs, stages = g.pop("_secs"), g.pop("_stages")
        g["max_task_s"] = max(secs)
        g["median_task_s"] = statistics.median(secs)
        heavy = max(stages, key=sum)
        med = statistics.median(heavy)
        g["task_skew"] = max(heavy) / med if med > 0 else 1.0
    return out
