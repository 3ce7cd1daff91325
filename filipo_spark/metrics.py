"""Observability: per-epoch apply metrics and table health.

The reference averages per-candidate response times into its function
store (AlignmentProcessor.java:1138-1146 → OutputManager.java:81-82);
the engine's equivalents are (a) ``Observation`` counters already wired
into every commit (rows_written in the manifest) and (b) this module's
manifest summarization.
"""

from __future__ import annotations

from typing import Any

from filipo_spark.table.icelet import IceletTable


def replay_metrics(table: IceletTable) -> dict[str, Any]:
    """Summarize commit lineage: epochs, rows, buckets, data files written
    per append, evolution events."""
    m = table.manifest()
    appends = [x for x in m if x.get("kind", "append") == "append"]
    compacts = [x for x in m if x.get("kind") == "compact"]
    # appends committed before manifests recorded n_files are left out
    written = [x["n_files"] for x in appends if "n_files" in x]
    snap = table.current_snapshot()
    bloom = {}
    if "bloom" in snap:
        # driver-side sketch-file read; past ~0.5 the FP rate degrades
        # and the probe under-counts key misses — resize/rebuild then
        # (table/sketch.py)
        bloom = {"bloom_saturation": round(table.key_bloom().saturation, 4)}
    return {
        **bloom,
        "epochs_committed_total": len(appends),
        "compactions": len(compacts),
        "rows_written": sum(x["n_rows"] for x in m),
        "buckets_touched": sorted({b for x in m for b in x["buckets"]}),
        "data_files": sum(len(v) for v in snap["files"].values()),
        "files_per_append": round(sum(written) / len(written), 2) if written else None,
        "files_per_append_max": max(written, default=None),
        "evolution_events": sorted({e for x in m for e in x["evolution_events"]}),
        "offset_hi": max((x["offset_hi"] for x in appends if x["offset_hi"] is not None), default=None),
        "current_snapshot": snap["snapshot_id"],
    }
