"""Spark's own counters, read from outside the engine.

Jobs and their tags/groups come from the live UI's REST API (the same
status store ``statusTracker()`` reads); task time, GC and shuffle bytes
come from its stage records (the fields ``tools/stage_metrics.py`` sums).
The benchmark only ever reads these after the timed region, so reading
them costs the measured run nothing.
"""

from __future__ import annotations

import json
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime


def _epoch(ts: str | None) -> float | None:
    # e.g. "2026-10-16T17:50:01.123GMT"
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


@dataclass
class Job:
    id: int
    group: str | None
    tags: list[str]
    start: float
    end: float
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    stages: list[int] = field(default_factory=list)


class SparkCounters:
    """Snapshot of every finished job of the application, with the
    metrics of the stages each job actually ran."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=30) as r:
            return json.load(r)

    def settle(self, timeout: float = 30.0) -> None:
        """Wait until the status store has caught up with every job the
        scheduler started (the UI listener runs asynchronously)."""
        tracker = self._sc.statusTracker()
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if not tracker.getActiveJobsIds():
                jobs = self._get("jobs")
                if all(j["status"] != "RUNNING" for j in jobs):
                    return
            time.sleep(0.2)

    def jobs(self) -> dict[int, Job]:
        self.settle()
        out: dict[int, Job] = {}
        for j in self._get("jobs"):
            if j.get("completionTime") is None:
                continue
            out[j["jobId"]] = Job(
                id=j["jobId"],
                group=j.get("jobGroup"),
                tags=list(j.get("jobTags") or []),
                start=_epoch(j["submissionTime"]),
                end=_epoch(j["completionTime"]),
                tasks=j.get("numCompletedTasks", 0),
                stages=list(j.get("stageIds") or []),
            )
        # a stage listed by several jobs (reused shuffle output) ran in
        # the first of them; later jobs skip it
        owner: dict[int, int] = {}
        for jid in sorted(out):
            for sid in out[jid].stages:
                owner.setdefault(sid, jid)
        for st in self._get("stages?status=complete"):
            jid = owner.get(st["stageId"])
            if jid is None:
                continue
            job = out[jid]
            job.task_s += st.get("executorRunTime", 0) / 1e3
            job.gc_s += st.get("jvmGcTime", 0) / 1e3
            job.shuffle_write_mb += st.get("shuffleWriteBytes", 0) / 1e6
        return out


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def clip(intervals, lo: float, hi: float):
    """The parts of ``intervals`` inside ``[lo, hi]``."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]
