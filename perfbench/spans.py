"""Spans recorded from outside the engine, and Spark's own event log.

A :class:`Tracer` wraps calls into the engine's public functions.  Each span
records name, start, end and parent; all spans of one benchmark run share a
run id.  Spans stay in memory and are written out once, when the run ends.

With ``jobs=True`` the tracer also sets a Spark job group per span on the
calling thread, so every Spark job submitted from that thread can be
attributed to its span through the event log (:func:`read_event_log`).  Jobs
submitted from the engine's own worker threads carry no group; they are
attributed by time to the innermost span that was open when they started.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None  # SparkContext, once job groups are wanted

    def set_job_groups(self, sc) -> None:
        self._sc = sc

    def _set_group(self, sid: int | None) -> None:
        if self._sc is None:
            return
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(self.group_id(sid), self.spans[sid]["name"])

    def group_id(self, sid: int) -> str:
        return f"{self.run_id}:{sid}"

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "epoch_start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["epoch_end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    # ---------------- queries over recorded spans ----------------------------

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def named(self, name: str, under: int | None = None) -> list[dict]:
        out = [s for s in self.spans if s["name"] == name]
        if under is not None:
            out = [s for s in out if self.is_under(s["id"], under)]
        return out

    def is_under(self, sid: int, ancestor: int) -> bool:
        while sid is not None:
            if sid == ancestor:
                return True
            sid = self.spans[sid]["parent"]
        return False

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it covered by its child spans."""
        rec = self.spans[sid]
        covered = _union_length(
            [(c["start"], c["end"]) for c in self.children(sid)],
            rec["start"], rec["end"],
        )
        return self.duration(rec) - covered

    def total(self, name: str, under: int | None = None) -> float:
        return sum(self.duration(s) for s in self.named(name, under))

    def innermost_at(self, epoch_s: float) -> int | None:
        """The deepest span open at wall-clock time ``epoch_s``."""
        best = None
        for s in self.spans:
            if s["epoch_start"] <= epoch_s <= s.get("epoch_end", float("inf")):
                if best is None or self.is_under(s["id"], best):
                    best = s["id"]
        return best

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh, indent=1)


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------- Spark event log -------------------------------------------


def read_event_log(log_dir: str, tracer: Tracer) -> dict:
    """Parse the (single, uncompressed) application event log in ``log_dir``.

    Returns ``{"jobs": {job_id: job}, "tasks": {stage_id: [metrics]},
    "stages_done": set}`` where each job carries its submission/completion
    times (epoch seconds), stage ids, its job-group span (``group_span``, None
    for jobs from the engine's worker threads) and ``span``, the span it is
    attributed to (the group span, else the innermost span open at
    submission)."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    prefix = tracer.run_id + ":"
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    stages_done: set[int] = set()
    with open(os.path.join(log_dir, files[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                group_span = int(gid[len(prefix):]) if gid.startswith(prefix) else None
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "stages": set(ev["Stage IDs"]),
                    "group_span": group_span,
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["complete"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                stages_done.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill_b": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "shuffle_write_b": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                })
    for job in jobs.values():
        job.setdefault("complete", job["submit"])
        job["span"] = (
            job["group_span"]
            if job["group_span"] is not None
            else tracer.innermost_at(job["submit"])
        )
    return {"jobs": jobs, "tasks": tasks, "stages_done": stages_done}


def jobs_under(log: dict, tracer: Tracer, sid: int, grouped_only: bool = False) -> list[dict]:
    """Jobs attributed to span ``sid`` or any span below it."""
    return [
        j for j in log["jobs"].values()
        if j["span"] is not None
        and tracer.is_under(j["span"], sid)
        and (j["group_span"] is not None or not grouped_only)
    ]


def uncovered_by_jobs(log: dict, rec: dict) -> float:
    """Wall of span ``rec`` during which no Spark job (from any thread) ran."""
    covered = _union_length(
        [(j["submit"], j["complete"]) for j in log["jobs"].values()],
        rec["epoch_start"], rec["epoch_end"],
    )
    return (rec["epoch_end"] - rec["epoch_start"]) - covered


def task_totals(log: dict, jobs: list[dict]) -> dict:
    """Summed task metrics over every stage the given jobs ran."""
    stages = set().union(*(j["stages"] for j in jobs)) if jobs else set()
    out = {"run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "spill_b": 0, "shuffle_write_b": 0}
    for sid in stages:
        for t in log["tasks"].get(sid, []):
            for k in out:
                out[k] += t[k]
    return out
