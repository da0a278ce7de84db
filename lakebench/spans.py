"""Spans, Spark job-group attribution and per-layer self time.

A span has a name, start, end, parent and run id. While a span is open on
the client thread, the Spark job group of that thread is the span id, so
every job Spark runs inside it can be attributed afterwards from the UI's
REST API (``/api/v1/applications/<id>/jobs`` and ``/stages``). Spans are
kept in memory and only written out at the end of a run.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

PACKAGE = "smartpool_bigdata_spark"


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float | None = None
    parent: str | None = None
    run_id: str = ""
    extra: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end if self.end is not None else time.time()) - self.start


class Tracer:
    """Collects spans. A disabled tracer records nothing and sets no job
    group, so the untraced runs pay nothing for it."""

    def __init__(self, spark=None, run_id: str = "run", enabled: bool = False):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping
        self._ids = itertools.count()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.id, span.name, interruptOnCancel=False)

    @contextlib.contextmanager
    def span(self, name: str, **extra):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            id=f"{self.run_id}-{next(self._ids)}",
            name=name,
            start=time.time(),
            parent=parent.id if parent else None,
            run_id=self.run_id,
            extra=dict(extra),
        )
        self.spans.append(s)
        stack.append(s)
        self._set_group(s)
        self.own_s += time.perf_counter() - t_in
        try:
            yield s
        except BaseException as exc:
            s.extra["error"] = type(exc).__name__
            raise
        finally:
            t_out = time.perf_counter()
            s.end = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            self.own_s += time.perf_counter() - t_out

    def add(self, name: str, start: float, end: float, parent: str | None = None, **extra) -> Span:
        """Record a span measured elsewhere (e.g. a streaming micro-batch)."""
        s = Span(f"{self.run_id}-{next(self._ids)}", name, start, end, parent, self.run_id, dict(extra))
        if self.enabled:
            self.spans.append(s)
        return s

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# -- Spark REST attribution ------------------------------------------------------


def _parse_ui_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def fetch_jobs_and_stages(spark, settle_s: float = 10.0) -> tuple[list[dict], dict]:
    """All jobs and stage attempts the UI holds for this application,
    after the listener bus has caught up with the finished jobs."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + settle_s
    last = None
    while True:
        jobs = _get(f"{base}/jobs")
        sig = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
        if (sig == last and sig[1] == 0) or time.time() > deadline:
            break
        last = sig
        time.sleep(0.3)
    stages = {}
    for st in _get(f"{base}/stages"):
        stages.setdefault(st["stageId"], []).append(st)
    for j in jobs:
        j["_start"] = _parse_ui_time(j.get("submissionTime"))
        j["_end"] = _parse_ui_time(j.get("completionTime"))
    return jobs, stages


def spark_totals(jobs: list[dict], stages: dict) -> dict[str, float]:
    """Job/stage/task counts and executor metrics over ``jobs``."""
    stage_ids = sorted({sid for j in jobs for sid in j.get("stageIds", [])})
    attempts = [a for sid in stage_ids for a in stages.get(sid, []) if a.get("status") != "SKIPPED"]

    def tot(key: str) -> float:
        return float(sum(a.get(key, 0) or 0 for a in attempts))

    return {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(attempts)),
        "spark.tasks": tot("numCompleteTasks"),
        "spark.executor_run_s": tot("executorRunTime") / 1e3,
        "spark.executor_cpu_s": tot("executorCpuTime") / 1e9,
        "spark.gc_s": tot("jvmGcTime") / 1e3,
        "spark.shuffle_read_bytes": tot("shuffleReadBytes"),
        "spark.shuffle_write_bytes": tot("shuffleWriteBytes"),
        "spark.spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
    }


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


class SpanTree:
    """Parent/child index over finished spans plus the jobs each ran."""

    def __init__(self, spans: list[Span], jobs: list[dict] | None = None):
        self.spans = [s for s in spans if s.end is not None]
        self.by_id = {s.id: s for s in self.spans}
        self.children: dict[str | None, list[Span]] = {}
        for s in self.spans:
            self.children.setdefault(s.parent, []).append(s)
        self.jobs_of: dict[str, list[dict]] = {}
        for j in jobs or []:
            if j.get("jobGroup") in self.by_id:
                self.jobs_of.setdefault(j["jobGroup"], []).append(j)

    def self_seconds(self, s: Span) -> float:
        """Span time not covered by its direct children (children may
        overlap each other; their union is subtracted)."""
        kids = [(max(c.start, s.start), min(c.end, s.end)) for c in self.children.get(s.id, [])]
        kids = [(a, b) for a, b in kids if b > a]
        return max(0.0, s.seconds - _union_length(kids))

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur.id, []))
        return out

    def jobs_in(self, s: Span) -> list[dict]:
        return [j for d in self.subtree(s) for j in self.jobs_of.get(d.id, [])]

    def driver_gap(self, s: Span) -> float:
        """Seconds of ``s`` during which none of its jobs was running."""
        iv = []
        for j in self.jobs_in(s):
            a, b = j["_start"], j["_end"] if j["_end"] is not None else s.end
            a, b = max(a, s.start), min(b, s.end)
            if b > a:
                iv.append((a, b))
        return max(0.0, s.seconds - _union_length(iv))

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def inclusive(self, name: str) -> tuple[float, int, int]:
        """(seconds, jobs, calls) over outermost spans called ``name``
        (a recursive call inside a same-named span is not counted twice)."""
        outer = [
            s for s in self.by_name(name)
            if not any(a.name == name for a in self.ancestors(s))
        ]
        return (
            sum(s.seconds for s in outer),
            sum(len(self.jobs_in(s)) for s in outer),
            len(self.by_name(name)),
        )

    def ancestors(self, s: Span) -> list[Span]:
        out = []
        while s.parent in self.by_id:
            s = self.by_id[s.parent]
            out.append(s)
        return out

    def layer_self_seconds(self, layer_of) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            layer = layer_of(s.name)
            out[layer] = out.get(layer, 0.0) + self.self_seconds(s)
        return out


def utc_iso_to_epoch(s: str) -> float:
    """Structured-streaming progress timestamps ('2026-01-01T00:00:00.000Z')."""
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
