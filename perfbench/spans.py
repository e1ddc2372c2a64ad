"""Span recorder and Spark event-log reader for the traced benchmark run.

Spans are kept in memory (name, start, end, parent, request id) and written
out as one JSON file when the run ends. While a span is open its id is set
as the Spark local property ``perfbench.span`` on the calling thread, so the
jobs it submits carry the tag into the event log; jobs submitted with no tag
(none are expected) fall back to the innermost span open at their
submission time.

With tracing off, :meth:`Tracer.span` is a no-op context manager, so the
untraced run pays nothing for the instrumentation points.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.root: int | None = None  # parent for spans opened on other threads
        self.bookkeeping_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid=None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else self.root
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "rid": rid,
                   "start": 0.0, "end": 0.0}
            self.spans.append(rec)
        st.append(sid)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        self.bookkeeping_s += time.perf_counter() - t0
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t1 = time.perf_counter()
            st.pop()
            back = st[-1] if st else self.root
            self.sc.setLocalProperty(SPAN_PROP, None if back is None else str(back))
            self.bookkeeping_s += time.perf_counter() - t1

    def wrap(self, name: str, fn, rid_of=None):
        """``fn`` wrapped in a span; ``rid_of(*args, **kw)`` names the request."""
        def traced(*args, **kw):
            with self.span(name, rid_of(*args, **kw) if rid_of else None):
                return fn(*args, **kw)
        return traced

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of the
        intervals its direct children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class EventLog:
    """Jobs and tasks of one application's Spark event log, each job
    attributed to the span that submitted it."""

    def __init__(self, log_dir: str, tracer: Tracer):
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    tag = props.get(SPAN_PROP)
                    self.jobs[jid] = {
                        "submitted": ev["Submission Time"] / 1000.0,
                        "span": int(tag) if tag is not None else None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    self.tasks.append({
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    })
        for t in self.tasks:
            t["job"] = stage_job.get(t["stage"])
        spans = sorted(tracer.spans, key=lambda s: s["start"])
        for j in self.jobs.values():
            if j["span"] is None:  # untagged: innermost span open at submission
                open_ = [s for s in spans if s["start"] <= j["submitted"] <= s["end"]]
                j["span"] = max(open_, key=lambda s: s["start"])["id"] if open_ else None
        by_id = {s["id"]: s for s in tracer.spans}
        for j in self.jobs.values():
            j["name"] = by_id[j["span"]]["name"] if j["span"] in by_id else None

    def job_ids(self, names: set[str]) -> set[int]:
        return {jid for jid, j in self.jobs.items() if j["name"] in names}

    def n_jobs(self, names: set[str]) -> int:
        return len(self.job_ids(names))

    def task_sum(self, names: set[str], field: str) -> float:
        ids = self.job_ids(names)
        return float(sum(t[field] for t in self.tasks if t["job"] in ids))

    def reduce_skew(self, names: set[str]) -> float:
        """max ÷ median task run time over the tasks that read a shuffle
        (the aggregate stage) in jobs of the named spans."""
        ids = self.job_ids(names)
        runs = [t["run_ms"] for t in self.tasks if t["job"] in ids and t["shuffle_read"] > 0]
        if not runs:
            return 1.0
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 1.0

    def window(self, t0: float, t1: float) -> dict:
        ids = {jid for jid, j in self.jobs.items() if t0 <= j["submitted"] <= t1}
        ts = [t for t in self.tasks if t["job"] in ids]
        return {
            "jobs": len(ids),
            "tasks": len(ts),
            "gc_s": sum(t["gc_ms"] for t in ts) / 1000.0,
            "spill_bytes": sum(t["spill"] for t in ts),
        }
