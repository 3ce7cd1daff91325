"""Incremental change feed over Icelet snapshots (CDF).

A downstream consumer of a CDC table rarely wants the full state — it
wants *what changed since the snapshot I last saw* (the Delta Lake
"change data feed" / Iceberg incremental-read shape).  Under
merge-on-read every append commit writes exactly the batch's LWW
winners as new delta files, so the files added between two snapshots
ARE the change log of that window: folding them with the same
associative LWW max yields the NET change per key — one row per
(conv_id, turn_idx), upserts as ``op='U'`` carrying the new values,
deletes surfacing the tombstone as ``op='D'``.

No extra bookkeeping is stored to make this possible; it falls out of
the snapshot design (immutable per-bucket file lists + parent chain,
table/icelet.py).  Delta files are attributed per append COMMIT (each
commit's files = its snapshot minus its parent's), so a ``compact()``
inside the window is transparent: compaction rewrites the CURRENT file
layout but never the append snapshots' own (immutable) file lists, and
``vacuum()`` keeps every file the retained snapshot chain references —
a consumer that fell behind can still catch up across a compaction as
long as the window's snapshots have not been expired
(``IceletTable.expire_snapshots``).  Beyond that retention horizon the
lineage check refuses and the consumer re-reads a full snapshot.  The
feed is undefined across ``bootstrap`` commits (full-state reseed) and
refuses loudly there.

Scale shape: the feed reads ONLY the delta files of the window (an
explicit file list — no directory listing, no touch of the base data),
and the fold is the same single map-side-combined hash aggregate as the
read path.  Cost is O(changes in window), never O(table).

Reference anchor: FiLiPo re-reads its whole function store each run
(OutputManager.java:65-70 delete-then-insert); the snapshot lineage
makes the incremental question answerable instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filipo_spark.operators.merge import lww_resolve
from filipo_spark.table.icelet import _PHYS_SCHEMA_DDL, IceletTable

FEED_COLUMNS = ["conv_id", "turn_idx", "op", "lsn", "role", "text", "tool", "ts"]


def _files_set(table: IceletTable, snap: dict) -> set[str]:
    return {f for fl in snap["files"].values() for f in fl}


def changes_between(
    spark: SparkSession,
    table: IceletTable,
    from_snapshot_id: str,
    to_snapshot_id: str | None = None,
) -> DataFrame:
    """Net changes committed after ``from_snapshot_id`` up to and
    including ``to_snapshot_id`` (default: the current snapshot).

    Returns one row per changed key: ``(conv_id, turn_idx, op, lsn,
    role, text, tool, ts)`` with ``op`` ∈ {'U','D'} — the winning
    version in the window ('I' is not distinguishable from 'U' after
    the fold, matching upsert semantics).  Raises ``ValueError`` if the
    window crosses a ``bootstrap`` commit, if the snapshots are
    not on the current (retained) lineage in from→to order, or if the
    window's delta files have been expired+vacuumed.
    """
    import json
    import os

    chain = table.snapshot_ids()
    if to_snapshot_id is None:
        to_snapshot_id = table.current_snapshot_id()
    try:
        i_from, i_to = chain.index(from_snapshot_id), chain.index(to_snapshot_id)
    except ValueError:
        raise ValueError(
            f"snapshot not on current (retained) lineage: {from_snapshot_id!r} "
            f"or {to_snapshot_id!r} (lineage: {chain}) — if it was expired by "
            "expire_snapshots(), catch up by re-reading a full snapshot"
        )
    if i_from > i_to:
        raise ValueError(
            f"from-snapshot {from_snapshot_id!r} is newer than "
            f"to-snapshot {to_snapshot_id!r}"
        )
    window_sids = chain[i_from + 1 : i_to + 1]
    kind_of: dict[str, str] = {}
    for m in table.manifest():  # first row per sid is the commit that created it
        kind_of.setdefault(m["snapshot_id"], m.get("kind", "append"))
    bad = [s for s in window_sids if kind_of.get(s, "append") == "bootstrap"]
    if bad:
        raise ValueError(
            "change feed undefined across a bootstrap commit (full-state "
            f"reseed, not a delta): {bad} — read full snapshots instead"
        )

    # per-COMMIT file attribution: each append snapshot's delta = its file
    # set minus its parent's.  Immutable snapshots make this stable under a
    # later compaction (which only rewrites the CURRENT layout), so the
    # union over the window's appends is exactly the window's change log
    # even when a compact commit sits inside the window.
    delta_set: set[str] = set()
    prev: dict | None = None
    for sid in [from_snapshot_id] + list(window_sids):
        with open(table._snap_path(sid)) as f:
            snap = json.load(f)
        if prev is not None and kind_of.get(sid, "append") == "append":
            delta_set |= _files_set(table, snap) - _files_set(table, prev)
        prev = snap
    delta = sorted(delta_set)
    gone = [rel for rel in delta if not os.path.exists(os.path.join(table.root, rel))]
    if gone:
        raise ValueError(
            f"window delta files expired+vacuumed (beyond retention): {gone[:3]}"
            f"{'...' if len(gone) > 3 else ''} — catch up by re-reading a full "
            "snapshot"
        )
    if not delta:
        return spark.createDataFrame([], _PHYS_SCHEMA_DDL).select(
            "conv_id", "turn_idx",
            F.lit("U").alias("op"), F.col("_lsn").alias("lsn"),
            "role", "text", "tool", "ts",
        )
    phys = spark.read.schema(_PHYS_SCHEMA_DDL).parquet(
        *[os.path.join(table.root, rel) for rel in delta]
    )
    net = lww_resolve(phys)  # NET winner per key over the window
    return net.select(
        "conv_id",
        "turn_idx",
        F.when(F.col("_deleted"), F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("_lsn").alias("lsn"),
        "role",
        "text",
        "tool",
        "ts",
    )
