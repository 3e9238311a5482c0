"""The traced run: spans around the package's public entry points, with
Spark jobs attributed to spans through job groups.

Nothing here is imported by an untraced run. A traced run patches each
entry point where its caller looks it up, so the program itself is not
changed: every wrapped call opens a span (name, start, end, parent, run
id) and sets the Spark job group to the span id, so the jobs and stages it
launches can be found later in Spark's status store. Spans stay in memory;
job, stage, Catalyst and streaming metrics are collected after the timed
region and written with the spans to one profile file.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

_PHASE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")


def rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning seconds of ``df``'s query
    execution. PhaseSummary's accessors are not callable through py4j, so
    the tracker's string form is parsed."""
    text = df._jdf.queryExecution().tracker().phases().toString()
    return {m.group(1): (int(m.group(3)) - int(m.group(2))) / 1000.0 for m in _PHASE.finditer(text)}


def stream_progress(query) -> list[dict]:
    """Every retained micro-batch progress of a streaming query, as dicts."""
    return [json.loads(p.json()) for p in query._jsq.recentProgress()]


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= max(a, cur):
            continue
        total += b - max(a, cur)
        cur = b
    return total


class Tracer:
    """Span recorder for one run. Spans of every thread share ``run_id``;
    each thread keeps its own span stack (and Spark job group)."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # tracer's own time inside the timed region
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list = []
        port = (self.sc.uiWebUrl or "").rsplit(":", 1)[-1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}" if port else None

    # -- spans ----------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        stack = self._stack()
        rec = {"id": f"{self.run_id}.{next(self._ids)}", "name": name,
               "parent": stack[-1]["id"] if stack else None, "run": self.run_id,
               "attrs": attrs, "start": time.time()}
        stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        self._add_overhead(time.perf_counter() - t0)
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = time.time()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1]["id"], stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(rec)
            self._add_overhead(time.perf_counter() - t1)

    def _add_overhead(self, dt: float) -> None:
        with self._lock:
            self.overhead_s += dt

    def wrap(self, owner, attr: str, name: str | None = None, on_call=None,
             on_return=None) -> None:
        """Replace ``owner.attr`` (module, class or dict entry) by a traced
        twin until `restore`. ``on_call(span, args, kwargs)`` and
        ``on_return(span, args, kwargs, result)`` may record what a call
        was given or returned."""
        is_dict = isinstance(owner, dict)
        orig = owner[attr] if is_dict else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name or attr) as rec:
                if on_call is not None:
                    on_call(rec, args, kwargs)
                out = orig(*args, **kwargs)
                if on_return is not None:
                    on_return(rec, args, kwargs, out)
                return out

        if is_dict:
            owner[attr] = traced
        else:
            setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig, is_dict))

    def restore(self) -> None:
        for owner, attr, orig, is_dict in reversed(self._patches):
            if is_dict:
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    def cached_bytes(self) -> int:
        """Bytes of cached blocks held right now (memory plus disk). The
        status store keeps no per-job peak, so callers read it when a job
        completes, before its caches are released."""
        t0 = time.perf_counter()
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        total = sum(i.memSize() + i.diskSize() for i in infos)
        self._add_overhead(time.perf_counter() - t0)
        return total

    # -- post-run collection ---------------------------------------------

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def collect(self) -> None:
        """Attach to every span the jobs of its job group and the summed
        metrics of their stages. Runs after the timed region."""
        self.jobs_by_group: dict[str, list[dict]] = {}
        stages: dict[int, dict] = {}
        if self.base:
            for s in self._get("/stages"):
                if s.get("status") in ("COMPLETE", "FAILED"):
                    stages.setdefault(s["stageId"], s)
            for j in self._get("/jobs"):
                if j.get("jobGroup"):
                    self.jobs_by_group.setdefault(j["jobGroup"], []).append(j)
        self.stages = stages
        self.children: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["parent"]:
                self.children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            kids = self.children.get(s["id"], [])
            s["self_s"] = s["dur_s"] - _union_length([(k["start"], k["end"]) for k in kids],
                                                     s["start"], s["end"])
            s["own_jobs"] = [j["jobId"] for j in self.jobs_by_group.get(s["id"], [])]

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def job_stats(self, spans: list[dict]) -> dict[str, float]:
        """Jobs, stages, tasks and summed stage metrics of the given spans'
        own job groups, plus the time inside their windows that no stage of
        theirs was running (the scheduling gap)."""
        jobs = [j for s in spans for j in self.jobs_by_group.get(s["id"], [])]
        stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
        st = [self.stages[i] for i in stage_ids if i in self.stages]
        busy = []
        for s in st:
            a = rest_time(s.get("firstTaskLaunchedTime") or s.get("submissionTime"))
            b = rest_time(s.get("completionTime"))
            if a is not None and b is not None:
                busy.append((a, b))
        ids = {s["id"] for s in spans}
        roots = [s for s in spans if s["parent"] not in ids]  # nested spans share their root's window
        wall = sum(s["end"] - s["start"] for s in roots)
        covered = sum(_union_length(busy, s["start"], s["end"]) for s in roots)
        return {
            "jobs": len(jobs), "stages": len(st),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in st),
            "task_s": sum(s.get("executorRunTime", 0) for s in st) / 1000.0,
            "task_cpu_s": sum(s.get("executorCpuTime", 0) for s in st) / 1e9,
            "input_bytes": sum(s.get("inputBytes", 0) for s in st),
            "shuffle_bytes": sum(s.get("shuffleWriteBytes", 0) for s in st),
            "spill_bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in st),
            "wall_s": wall, "sched_gap_s": max(0.0, wall - covered),
        }

    def records(self) -> list[dict]:
        """The spans, in start order, for the profile file."""
        keep = ("id", "name", "parent", "run", "start", "end", "dur_s", "self_s", "own_jobs", "attrs")
        return [{k: s.get(k) for k in keep} for s in sorted(self.spans, key=lambda s: s["start"])]
