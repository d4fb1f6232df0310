"""Tracing for the traced run: in-memory spans, a streaming-progress
listener and a reader of Spark's status REST API.

Spans are recorded around the benchmark's own calls into each layer
(nothing inside the package is instrumented) and written out once, when
the run ends. A span's self time is its duration minus the part of it
that its children cover.
"""

from __future__ import annotations

import datetime as dt
import json
import threading
import time
import urllib.request
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans ``(id, name, start, end, parent)``; a disabled tracer
    records nothing. The parent defaults to the innermost open span of
    the calling thread, else to ``root`` (set by the workload so spans
    opened on Spark's callback threads attach to the current pass)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "start": time.time(), "end": None, "parent": parent, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[int, float]:
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = union_length(
                [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s["id"], [])]
            )
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None)

    def write(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as f:
            json.dump([{**s, "self_s": st.get(s["id"])} for s in self.spans], f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class ProgressListener(StreamingQueryListener):
    """Keeps every query's progress reports (batch phases and
    ``stateOperators``) as plain dicts, keyed by query name."""

    def __init__(self) -> None:
        self.by_query: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.by_query.setdefault(p.get("name") or "", []).append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def parse_spark_time(s: str) -> float:
    """Status-API / progress timestamps ('2026-01-01T00:00:00.123GMT'
    or '...Z') to epoch seconds."""
    s = s.replace("GMT", "").replace("Z", "")
    return dt.datetime.fromisoformat(s).replace(tzinfo=dt.timezone.utc).timestamp()


class StatusApi:
    """Jobs and stages of this application from the UI's REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def window(self, t0: float, t1: float, settle_s: float = 1.0) -> dict:
        """Totals over the jobs submitted in [t0, t1]."""
        time.sleep(settle_s)  # the UI store is fed by the async listener bus
        jobs = [
            j for j in self._get("/jobs")
            if j.get("submissionTime") and t0 <= parse_spark_time(j["submissionTime"]) <= t1
        ]
        stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
        stages = [s for s in self._get("/stages?status=complete") if s["stageId"] in stage_ids]
        spans = []
        for j in jobs:
            a = parse_spark_time(j["submissionTime"])
            b = parse_spark_time(j["completionTime"]) if j.get("completionTime") else t1
            spans.append((max(a, t0), min(b, t1)))
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "executor_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
            "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in stages) / 1e6,
            "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "driver_s": (t1 - t0) - union_length(spans),
        }
