"""Per-layer metrics of a traced run, from its spans and Spark's event log.

Every workload reports every metric; a layer the workload never calls
reads 0.  Per-call figures are medians over the run's calls.
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench import spans as S

UNITS = {
    "session.start_s": "s",
    "icelet.bootstrap_s": "s",
    "replay.self_s": "s",
    "tail.self_s": "s",
    "tail.jobs_per_batch": "jobs",
    "icelet.apply_epoch_s": "s",
    "icelet.apply_epoch.tasks": "tasks",
    "icelet.apply_epoch.executor_cpu_s": "s",
    "icelet.apply_epoch.gc_s": "s",
    "icelet.apply_epoch.files_written": "files",
    "icelet.apply_epoch.bytes_written": "bytes",
    "merge.shuffle_write_bytes_per_event": "bytes/event",
    "merge.fold_cpu_s": "s",
    "icelet.compact_s": "s",
    "icelet.compact.bytes_rewritten": "bytes",
    "icelet.read_s": "s",
    "icelet.read.files_opened": "files",
    "icelet.read.shuffle_bytes": "bytes",
    "changes.feed_s": "s",
    "changes.feed.files_read": "files",
    "mapper.align_s": "s",
    "mapper.align.jobs": "jobs",
    "mapper.align.executor_cpu_s": "s",
    "drift.health_s": "s",
    "trace.overhead_s": "s",
}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(c: dict, res: dict, work: str) -> dict:
    with open(os.path.join(work, "spans.json")) as f:
        doc = json.load(f)
    spans = doc["spans"]
    jobs, stages = S.read_event_log(S.find_event_log(os.path.join(work, "eventlog")))
    by_span = S.attribute(spans, jobs, stages)
    self_t = S.self_times(spans)
    named: dict[str, list[dict]] = {}
    for s in spans:
        named.setdefault(s["name"], []).append(s)

    def dur(name):
        return [s["end"] - s["start"] for s in named.get(name, [])]

    def counter(name, key):
        return [by_span.get(s["id"], {}).get(key, 0) for s in named.get(name, [])]

    def attr(name, key):
        return [s.get(key, 0) for s in named.get(name, [])]

    tail_spans = named.get("tail.tail_changelog", [])
    batches = c.get("warm_batches", 0) + c.get("timed_batches", 0)
    m = {
        "session.start_s": sum(dur("session.start")),
        "icelet.bootstrap_s": sum(dur("icelet.bootstrap")),
        "replay.self_s": sum(self_t[s["id"]] for s in named.get("replay.run_replay", [])),
        "tail.self_s": sum(self_t[s["id"]] for s in tail_spans),
        "tail.jobs_per_batch": (
            sum(by_span.get(s["id"], {}).get("jobs", 0) for s in tail_spans) / batches
            if tail_spans else 0.0
        ),
        "icelet.apply_epoch_s": _med(dur("icelet.apply_epoch")),
        "icelet.apply_epoch.tasks": _med(counter("icelet.apply_epoch", "tasks")),
        "icelet.apply_epoch.executor_cpu_s": _med(
            x / 1e9 for x in counter("icelet.apply_epoch", "cpu_ns")),
        "icelet.apply_epoch.gc_s": _med(x / 1e3 for x in counter("icelet.apply_epoch", "gc_ms")),
        "icelet.apply_epoch.files_written": _med(attr("icelet.apply_epoch", "files_written")),
        "icelet.apply_epoch.bytes_written": _med(attr("icelet.apply_epoch", "bytes_written")),
        "merge.shuffle_write_bytes_per_event": (
            sum(counter("icelet.apply_epoch", "shuffle_write")) / res["events_applied"]),
        "merge.fold_cpu_s": _med(
            x / 1e9 for x in counter("icelet.apply_epoch", "post_exchange_cpu_ns")),
        "icelet.compact_s": _med(dur("icelet.compact")),
        "icelet.compact.bytes_rewritten": _med(attr("icelet.compact", "bytes_written")),
        "icelet.read_s": _med(dur("icelet.read")),
        "icelet.read.files_opened": _med(attr("icelet.read", "files_opened")),
        "icelet.read.shuffle_bytes": _med(counter("icelet.read", "shuffle_write")),
        "changes.feed_s": _med(dur("changes.feed")),
        "changes.feed.files_read": _med(attr("changes.feed", "files_read")),
        "mapper.align_s": _med(dur("mapper.align")),
        "mapper.align.jobs": _med(counter("mapper.align", "jobs")),
        "mapper.align.executor_cpu_s": _med(x / 1e9 for x in counter("mapper.align", "cpu_ns")),
        "drift.health_s": _med(dur("drift.health")),
        "trace.overhead_s": doc["overhead_s"],
    }
    return {k: {"value": float(v), "unit": UNITS[k]} for k, v in m.items()}
