"""In-memory spans around the benchmark's calls into the package.

A span is recorded from outside the package: the benchmark wraps each call
into a public function in ``Tracer.span(layer)``. Spans of one request share
its id. While a span is open, every Spark job it launches carries a job
group unique to the span, so the jobs each span caused can be read back from
``SparkContext.statusTracker()`` and their stages, tasks, job times and
shuffle bytes from the application's UI REST endpoint on loopback.

Nothing here touches the package's code; with tracing off ``span`` costs a
context-manager entry and exit.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone
from typing import Dict, List, Optional, Tuple


class Tracer:
    """Spans are recorded only while ``active`` is true. ``overhead_s``
    accumulates the time spent in the tracer's own bookkeeping (span entry
    and exit, job-group switches, job-id lookups) — the latency tracing
    adds to a request."""

    def __init__(self, active: bool):
        self.active = active
        self.overhead_s = 0.0
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        self._sc = None
        self.request: Optional[int] = None

    def bind(self, sc) -> None:
        """Attach the (current) SparkContext whose jobs spans account."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": self.request,
            "start": time.time(),
            "end": None,
            "group": None,
            "jobs": [],
            "app": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self._sc
        if sc is not None:
            rec["group"] = f"perfbench-span-{rec['id']}"
            rec["app"] = sc.applicationId
            sc.setJobGroup(rec["group"], name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                rec["jobs"] = sorted(sc.statusTracker().getJobIdsForGroup(rec["group"]))
                if parent is not None and parent["group"] is not None:
                    sc.setJobGroup(parent["group"], parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t1

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, sort_keys=True)


def _union_length(intervals: List[Tuple[float, float]]) -> float:
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


def self_times(spans: List[dict]) -> Dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    children: Dict[int, List[Tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _union_length(children.get(s["id"], []))
        for s in spans
    }


def _rest_time(value: Optional[str]) -> Optional[float]:
    # e.g. "2026-10-17T03:51:36.123GMT"
    if not value:
        return None
    dt = datetime.strptime(value.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def _rest_get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as resp:
        return json.loads(resp.read().decode())


def job_stats(app: str, ui_base: str) -> Dict[Tuple[str, int], dict]:
    """(app id, job id) -> counts and times of every job the UI still holds.

    A span's job ids come from the status tracker (its job group); the
    stages, tasks, job intervals and shuffle bytes of
    those jobs from the REST endpoint of the context's UI (``/api/v1``),
    reached on 127.0.0.1. Skipped stages count as neither stages nor tasks.
    """
    jobs = _rest_get(ui_base, f"/api/v1/applications/{app}/jobs")
    stages = _rest_get(ui_base, f"/api/v1/applications/{app}/stages")
    by_stage: Dict[int, dict] = {}
    for st in stages:
        agg = by_stage.setdefault(
            st["stageId"],
            {"tasks": 0, "failed": 0, "shuffle_w": 0, "ran": False},
        )
        if st.get("status") == "SKIPPED":
            continue
        agg["ran"] = True
        agg["tasks"] += st.get("numCompleteTasks", 0)
        agg["failed"] += st.get("numFailedTasks", 0)
        agg["shuffle_w"] += st.get("shuffleWriteBytes", 0)
    out: Dict[Tuple[str, int], dict] = {}
    for j in jobs:
        st_ids = [s for s in j.get("stageIds", []) if by_stage.get(s, {}).get("ran")]
        out[(app, j["jobId"])] = {
            "start": _rest_time(j.get("submissionTime")),
            "end": _rest_time(j.get("completionTime")),
            "stages": len(st_ids),
            "tasks": sum(by_stage[s]["tasks"] for s in st_ids),
            "failed_tasks": sum(by_stage[s]["failed"] for s in st_ids),
            "shuffle_write_bytes": sum(by_stage[s]["shuffle_w"] for s in st_ids),
        }
    return out


def span_job_summary(span: dict, stats: Dict[Tuple[str, int], dict]) -> dict:
    """Counts over a span's own jobs, and the share of its wall time no
    job of it covers (``driver_s``)."""
    jobs = [stats[(span["app"], j)] for j in span["jobs"] if (span["app"], j) in stats]
    dur = span["end"] - span["start"]
    intervals = [
        (max(j["start"], span["start"]), min(j["end"], span["end"]))
        for j in jobs
        if j["start"] is not None and j["end"] is not None
    ]
    covered = _union_length([(s, e) for s, e in intervals if e > s])
    return {
        "jobs": len(span["jobs"]),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "failed_tasks": sum(j["failed_tasks"] for j in jobs),
        "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
        "driver_s": max(dur - covered, 0.0),
    }
