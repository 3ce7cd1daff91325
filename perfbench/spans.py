"""Spans around the engine's public calls, and Spark event-log attribution.

A span records a name, start, end, parent and run id; spans are kept in
memory and written out once, when the run ends.  While a span is open
the Spark job description is ``<name>#<span id>``, so the jobs it starts
can be found again in Spark's event log; a job that carries no such
description (e.g. streaming bookkeeping jobs) goes to the innermost span
open when it was submitted.  A layer's self time is its span minus the
part of it that its child spans cover.

``Tracer(enabled=False)`` still times calls (the timed runs need the
duration of every ``compact`` call) but sets no job description.
``overhead`` sums the time spent in the tracer's own bookkeeping.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time

DESC = "spark.job.description"


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.sc = None
        self.overhead = 0.0

    def attach(self, sc) -> None:
        self.sc = sc if self.enabled else None

    def _parent(self) -> dict | None:
        stack = getattr(self._local, "stack", [])
        if stack:
            return stack[-1]
        # a span opened on another thread (a streaming foreachBatch
        # callback) belongs to the newest span still open anywhere
        with self._lock:
            return self._open[-1] if self._open else None

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span;
        ``after(span, args, result)`` may add counts to the span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if after is not None and tracer.enabled:
                    t0 = time.perf_counter()
                    after(sp, args, out)
                    tracer.overhead += time.perf_counter() - t0
                return out

        setattr(owner, attr, wrapper)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "overhead_s": self.overhead,
                       "spans": self.spans}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.rec = {"name": name, "run_id": tracer.run_id}

    def __enter__(self) -> dict:
        t0 = time.perf_counter()
        t = self.t
        parent = t._parent()
        self.rec.update(id=next(t._ids), parent=parent["id"] if parent else None)
        stack = t._local.__dict__.setdefault("stack", [])
        stack.append(self.rec)
        with t._lock:
            t._open.append(self.rec)
        if t.sc is not None:
            self.prev = t.sc.getLocalProperty(DESC)
            t.sc.setLocalProperty(DESC, f"{self.rec['name']}#{self.rec['id']}")
        self.rec["start"] = time.time()
        t.overhead += time.perf_counter() - t0
        return self.rec

    def __exit__(self, *exc) -> None:
        t = self.t
        self.rec["end"] = time.time()
        t0 = time.perf_counter()
        if t.sc is not None:
            t.sc.setLocalProperty(DESC, self.prev)
        t._local.stack.pop()
        with t._lock:
            t._open.remove(self.rec)
            t.spans.append(self.rec)
        t.overhead += time.perf_counter() - t0


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the union of its children's."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, lo_seen = 0.0, s["start"]
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, lo_seen), min(hi, s["end"])
            if hi > lo:
                covered += hi - lo
                lo_seen = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# --- Spark event log ---------------------------------------------------------

_ACC = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
}


def read_event_log(path: str) -> tuple[list[dict], dict[int, dict]]:
    """Jobs (id, submitted, description, stage ids) and completed stages
    (tasks, cpu, gc, shuffle bytes) from an uncompressed event log."""
    jobs, stages = [], {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append({
                    "id": ev["Job ID"],
                    "submitted": ev.get("Submission Time", 0) / 1000.0,
                    "desc": (ev.get("Properties") or {}).get(DESC),
                    "stages": ev.get("Stage IDs", []),
                })
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = {"tasks": info.get("Number of Tasks", 0)}
                for acc in info.get("Accumulables", []):
                    key = _ACC.get(acc.get("Name"))
                    if key:
                        st[key] = st.get(key, 0) + int(acc.get("Value", 0))
                stages[info["Stage ID"]] = st
    return jobs, stages


def attribute(spans: list[dict], jobs: list[dict], stages: dict[int, dict]) -> dict[int, dict]:
    """Span id -> summed job and stage counters of the jobs it started."""
    by_id = {s["id"]: s for s in spans}
    out: dict[int, dict] = {}
    seen: set[int] = set()
    for j in jobs:
        sid = None
        if j["desc"] and "#" in j["desc"]:
            tail = j["desc"].rsplit("#", 1)[1]
            if tail.isdigit() and int(tail) in by_id:
                sid = int(tail)
        if sid is None:  # innermost span open at submission
            inside = [
                s for s in spans if s["start"] - 0.001 <= j["submitted"] <= s["end"] + 0.001
            ]
            if not inside:
                continue
            sid = max(inside, key=lambda s: s["start"])["id"]
        agg = out.setdefault(sid, {"jobs": 0, "tasks": 0, "cpu_ns": 0, "gc_ms": 0,
                                   "shuffle_write": 0, "shuffle_read": 0,
                                   "post_exchange_cpu_ns": 0})
        agg["jobs"] += 1
        for st_id in j["stages"]:
            st = stages.get(st_id)
            if st is None or st_id in seen:  # skipped, or counted by an earlier job
                continue
            seen.add(st_id)
            agg["tasks"] += st["tasks"]
            for k in ("cpu_ns", "gc_ms", "shuffle_write", "shuffle_read"):
                agg[k] += st.get(k, 0)
            if st.get("shuffle_read", 0) > 0:
                agg["post_exchange_cpu_ns"] += st.get("cpu_ns", 0)
    return out


def find_event_log(d: str) -> str:
    names = [n for n in os.listdir(d) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {d}, found {names}")
    return os.path.join(d, names[0])
