"""Spans around calls into the program's layers, and Spark's own record
of the jobs those calls ran.

A span is (id, name, parent, request, start, end). Spans nest per thread;
a request (or batch step) is the root span of its thread and every span
under it carries the request id. With tracing on, each request also runs
under ``sc.setJobGroup(request_id)``, so after the run the jobs Spark
executed can be attributed back to requests from its status store:
``statusTracker`` for job and stage ids, task and failed-task counts; the
JVM ``AppStatusStore`` for executor run time, input, shuffle and spill
bytes and job submit/complete times.

Spans stay in memory and are written out once, at the end of the run.
With tracing off every method is a no-op apart from running the body.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time


class Tracer:
    """Span recorder. ``enabled`` is the run's trace mode; within a traced
    run each request decides whether it is traced (``on``), so traced and
    untraced requests can interleave and be compared."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _active(self) -> bool:
        return self.enabled and getattr(self._local, "on", False)

    @contextlib.contextmanager
    def request(self, request_id: str, on: bool = True):
        """Root span (named "request") of one request or step; labels its
        Spark jobs with the request id as job group."""
        if not (self.enabled and on):
            yield
            return
        self._local.on, self._local.stack = True, []
        self.sc.setJobGroup(request_id, "request")
        try:
            with self.span("request", request=request_id):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._local.on = False

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self._active():
            yield
            return
        stack = self._local.stack
        parent, parent_req = stack[-1] if stack else (None, None)
        sid = next(self._ids)
        req = request or parent_req
        stack.append((sid, req))
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append({"id": sid, "name": name, "parent": parent,
                                   "request": req, "start": start, "end": end})

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> seconds not covered by its child spans."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length([(c["start"], c["end"]) for c in children.get(s["id"], [])],
                               s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------- Spark status store


def _opt(o):
    return o.get() if o.isDefined() else None


def spark_jobs_by_group(sc, groups: list[str]) -> dict[str, list[dict]]:
    """Per job group: the jobs Spark ran for it, with their stage metrics.

    Call after the run, once. Waits for the listener bus to drain so the
    status store has seen every job end."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    stages = {}
    for st in conv.asJava(store.stageList(None, False, False,
                                          getattr(store, "stageList$default$4")(),
                                          getattr(store, "stageList$default$5")())):
        if st.status().toString() == "SKIPPED":
            continue
        acc = stages.setdefault(st.stageId(), {
            "run_ms": 0, "in_bytes": 0, "in_rows": 0, "sh_read": 0, "sh_write": 0,
            "spill": 0})
        acc["run_ms"] += st.executorRunTime()
        acc["in_bytes"] += st.inputBytes()
        acc["in_rows"] += st.inputRecords()
        acc["sh_read"] += st.shuffleReadBytes()
        acc["sh_write"] += st.shuffleWriteBytes()
        acc["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    out: dict[str, list[dict]] = {}
    for g in groups:
        jobs = []
        for jid in tracker.getJobIdsForGroup(g):
            jd = store.job(jid)
            sub, comp = _opt(jd.submissionTime()), _opt(jd.completionTime())
            info = tracker.getJobInfo(jid)
            ran, tasks, failed = [], 0, 0
            for sid in (info.stageIds if info is not None else []):
                if sid not in stages:
                    continue
                si = tracker.getStageInfo(sid)
                ran.append(stages[sid])
                if si is not None:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
            jobs.append({
                "job": jid,
                "submit": sub.getTime() / 1000.0 if sub is not None else None,
                "complete": comp.getTime() / 1000.0 if comp is not None else None,
                "stages": len(ran), "tasks": tasks, "failed_tasks": failed,
                **{k: sum(s[k] for s in ran) for k in
                   ("run_ms", "in_bytes", "in_rows", "sh_read", "sh_write", "spill")},
            })
        out[g] = jobs
    return out


def group_summary(jobs: list[dict], start: float, end: float) -> dict:
    """Totals for one request/step plus its driver gap: wall time not
    covered by any of its jobs' [submit, complete] intervals."""
    covered = union_length([(j["submit"], j["complete"]) for j in jobs
                            if j["submit"] is not None and j["complete"] is not None],
                           start, end)
    s = {k: sum(j[k] for j in jobs) for k in
         ("stages", "tasks", "failed_tasks", "run_ms", "in_bytes", "in_rows",
          "sh_read", "sh_write", "spill")}
    s["jobs"] = len(jobs)
    s["driver_gap_ms"] = (end - start - covered) * 1000.0
    return s
