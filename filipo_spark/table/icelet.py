"""Icelet — a minimal Iceberg-shaped snapshot table over parquet.

No Iceberg/Delta jars exist in this sandbox (verified in SURVEY.md §7.3),
so the engine ships its own table format exposing exactly the metadata
surface the north_star demands:

    <root>/data/b=<bucket>/snap-<id>/part-*.parquet     data files
    <root>/metadata/snapshot-<id>.json                  file list per bucket
    <root>/metadata/manifest.jsonl                      commit lineage
    <root>/metadata/CURRENT                             atomic pointer

Layout & semantics
------------------
* **Bucketed**: rows land in ``b = pmod(xxhash64(conv_id), N)`` —
  co-locates each conversation and gives MERGE/reads their pruning axis.
* **Physical rows** carry ``(_lsn, _deleted)`` (operators/merge.py), so
  *any* union of data files resolves to the true state with one LWW
  ``max_by`` fold.
* **Merge-on-read** (the one write mode): an epoch writes ONLY the batch
  winners as new delta files (O(batch) write amplification — the only
  strategy that survives 10^10 events/day); readers fold base+delta;
  ``compact()`` folds buckets back to one file when their file count
  exceeds a threshold, and a full compaction gives a snapshot with one
  version per key that reads without the fold (``delta_free``).
* **Snapshots**: immutable JSON file lists; a commit replaces/appends
  file entries for touched buckets only and inherits the parent's for
  the rest — the same O(touched) metadata shape as an Iceberg manifest.
* **Commit manifest**: one JSONL row per commit —
  ``(epoch, offset_lo, offset_hi, snapshot_id, buckets, n_rows, n_files,
  evolution_events, kind)`` — per-partition lineage from source offset
  range to snapshot id; ``n_files`` counts the data files the commit
  added.
* **Exactly-once**: the manifest is the fence.  A batch whose
  ``(offset_lo, offset_hi]`` already appears is skipped (idempotent
  replay); a crash between data write and pointer swap leaves orphan
  files no snapshot references — invisible to readers, collected by
  ``vacuum()``; a crash between pointer swap and manifest append leaves
  the range unfenced, so restart re-applies it (safe: the LWW fold is
  idempotent).  The fence line is always written LAST, so it can never
  claim an epoch readers cannot see.  This is the reference's
  delete-then-insert function-store idempotence
  (OutputManager.java:65-70,296-303) turned into an atomic-pointer
  commit protocol.

Scale: metadata ops are O(buckets) driver-side JSON; reads pass explicit
file lists to ``spark.read.parquet`` (no directory listing, exact
pruning); the resolve fold is one exchange and a sort aggregate per key.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filipo_spark.operators.merge import (
    bucket_of,
    changes_to_physical,
    lww_resolve,
    to_physical,
    write_fanout,
)
from filipo_spark.schema import KEY_COLUMNS, N_BUCKETS_DEFAULT

_PHYS_SCHEMA_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, _lsn bigint, _deleted boolean"
)


@dataclass
class CommitResult:
    epoch: int
    snapshot_id: str | None
    skipped: bool
    buckets: list[int] = field(default_factory=list)
    n_rows: int = 0
    n_files: int = 0


class IceletTable:
    def __init__(self, root: str, n_buckets: int = N_BUCKETS_DEFAULT,
                 salt_factor: int = 2, bloom_bits: int = 0, bloom_k: int = 5):
        self.root = root
        self.n_buckets = n_buckets
        self.salt_factor = salt_factor
        # bloom_bits > 0 maintains a key-membership sketch per snapshot
        # (table/sketch.py): every commit unions the staged batch's keys
        # into the parent's filter, making the drift detector's
        # key_miss_ratio probe a zero-table-I/O driver-side bit test —
        # safe to run EVERY epoch instead of on a cadence.  Costs one
        # extra column-pruned O(batch) job per commit, so it is opt-in.
        self.bloom_bits = bloom_bits
        self.bloom_k = bloom_k

    # --- paths ---------------------------------------------------------
    @property
    def _meta(self) -> str:
        return os.path.join(self.root, "metadata")

    @property
    def _data(self) -> str:
        return os.path.join(self.root, "data")

    def _snap_path(self, sid: str) -> str:
        return os.path.join(self._meta, f"snapshot-{sid}.json")

    # --- lifecycle -----------------------------------------------------
    @classmethod
    def create(
        cls, root: str, n_buckets: int = N_BUCKETS_DEFAULT,
        salt_factor: int = 2, bloom_bits: int = 0, bloom_k: int = 5,
    ) -> "IceletTable":
        t = cls(root, n_buckets, salt_factor, bloom_bits, bloom_k)
        os.makedirs(t._meta, exist_ok=True)
        os.makedirs(t._data, exist_ok=True)
        sid = "empty"
        snap = {"snapshot_id": sid, "parent": None, "epoch": -1,
                "n_buckets": n_buckets, "mode": "mor",
                "salt_factor": salt_factor, "delta_free": True, "files": {}}
        if bloom_bits:
            from filipo_spark.table.sketch import KeyBloom

            rel = os.path.join("metadata", f"bloom-{sid}.bin")
            KeyBloom(bloom_bits, bloom_k).save(os.path.join(root, rel))
            snap["bloom"] = {"file": rel, "bits": bloom_bits, "k": bloom_k}
        t._write_snapshot(sid, snap)
        t._swap_current(sid)
        return t

    @classmethod
    def load(cls, root: str) -> "IceletTable":
        t = cls(root)
        snap = t.current_snapshot()
        if snap.get("mode", "mor") != "mor":
            raise ValueError(
                f"{root}: snapshot mode {snap['mode']!r} is not supported — "
                "tables are merge-on-read only; rebuild the table from its "
                "source or a full snapshot read"
            )
        t.n_buckets = snap["n_buckets"]
        t.salt_factor = snap.get("salt_factor", 2)
        if "bloom" in snap:
            t.bloom_bits = snap["bloom"]["bits"]
            t.bloom_k = snap["bloom"]["k"]
        return t

    # --- metadata ------------------------------------------------------
    def _write_snapshot(self, sid: str, snap: dict[str, Any]) -> None:
        with open(self._snap_path(sid), "w") as f:
            json.dump(snap, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())

    def _swap_current(self, sid: str) -> None:
        tmp = os.path.join(self._meta, f".CURRENT.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(sid)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self._meta, "CURRENT"))

    def current_snapshot_id(self) -> str:
        with open(os.path.join(self._meta, "CURRENT")) as f:
            return f.read().strip()

    def current_snapshot(self) -> dict[str, Any]:
        with open(self._snap_path(self.current_snapshot_id())) as f:
            return json.load(f)

    def manifest(self) -> list[dict[str, Any]]:
        p = os.path.join(self._meta, "manifest.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]

    def committed_ranges(self) -> set[tuple[int, int]]:
        """Offset ranges already applied — the exactly-once fence."""
        return {
            (m["offset_lo"], m["offset_hi"])
            for m in self.manifest()
            if m.get("kind", "append") == "append"
        }

    def key_bloom(self, snapshot_id: str | None = None):
        """The snapshot's key-membership sketch (table/sketch.py), or
        ``None`` for tables created without one."""
        snap = (
            self.current_snapshot()
            if snapshot_id is None
            else json.load(open(self._snap_path(snapshot_id)))
        )
        if "bloom" not in snap:
            return None
        from filipo_spark.table.sketch import KeyBloom

        return KeyBloom.load(
            os.path.join(self.root, snap["bloom"]["file"]), k=snap["bloom"]["k"]
        )

    # --- consumer cursors -----------------------------------------------
    # A change-feed consumer registers WHERE it is on the snapshot
    # lineage; expire_snapshots() then refuses to drop a snapshot a
    # registered consumer still needs (the silent-strand failure mode of
    # a manually sized keep_last — VERDICT r4 Missing #5).  Cursor files
    # are tiny driver-side JSON, one per consumer, atomically replaced.
    @property
    def _cursor_dir(self) -> str:
        return os.path.join(self._meta, "cursors")

    def set_cursor(self, name: str, snapshot_id: str) -> None:
        """Register/advance a named consumer cursor.  The snapshot must
        be on the retained lineage — advancing onto an expired or unknown
        snapshot is a consumer bug worth failing loudly."""
        import datetime

        if snapshot_id not in self.snapshot_ids():
            raise ValueError(
                f"cursor {name!r} cannot point at {snapshot_id!r}: not on the "
                "retained snapshot lineage"
            )
        os.makedirs(self._cursor_dir, exist_ok=True)
        tmp = os.path.join(self._cursor_dir, f".{name}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(
                {"snapshot_id": snapshot_id,
                 "updated_at": datetime.datetime.now(
                     datetime.timezone.utc).isoformat()},
                f,
            )
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self._cursor_dir, name))

    def cursors(self) -> dict[str, str]:
        """name → snapshot_id for every registered consumer cursor."""
        if not os.path.isdir(self._cursor_dir):
            return {}
        out = {}
        for name in sorted(os.listdir(self._cursor_dir)):
            if name.startswith("."):
                continue
            with open(os.path.join(self._cursor_dir, name)) as f:
                out[name] = json.load(f)["snapshot_id"]
        return out

    def delete_cursor(self, name: str) -> None:
        p = os.path.join(self._cursor_dir, name)
        if os.path.exists(p):
            os.remove(p)

    def _append_manifest(self, res: CommitResult, **row: Any) -> CommitResult:
        """Fence ``res``: its manifest line carries ``row`` (offsets,
        kind, evolution events) and the commit's own counts."""
        import datetime

        row.update(
            epoch=res.epoch, snapshot_id=res.snapshot_id, buckets=res.buckets,
            n_rows=res.n_rows, n_files=res.n_files,
            committed_at=datetime.datetime.now(datetime.timezone.utc).isoformat(),
        )
        with open(os.path.join(self._meta, "manifest.jsonl"), "a") as f:
            f.write(json.dumps(row, sort_keys=True) + "\n")
            f.flush()
            os.fsync(f.fileno())
        return res

    # --- read ----------------------------------------------------------
    def _files_of(self, snap: dict[str, Any], buckets: list[int] | None = None) -> list[str]:
        files: list[str] = []
        for b, fl in snap["files"].items():
            if buckets is None or int(b) in buckets:
                files.extend(os.path.join(self.root, rel) for rel in fl)
        return files

    def snapshot_ids(self) -> list[str]:
        """Snapshot lineage, oldest→current (parent-chain walk).  The walk
        stops at the retention floor: a parent whose JSON was removed by
        ``expire_snapshots`` ends the chain (by design, not an error)."""
        chain: list[str] = []
        sid = self.current_snapshot_id()
        seen: set[str] = set()
        while sid and sid not in seen and os.path.exists(self._snap_path(sid)):
            seen.add(sid)
            chain.append(sid)
            with open(self._snap_path(sid)) as f:
                sid = json.load(f).get("parent")
        return list(reversed(chain))

    def read_raw(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        snapshot_id: str | None = None,
    ) -> DataFrame:
        """All physical rows (possibly multiple versions per key in MoR).

        Explicit file list → no directory listing, exact pruning.
        ``snapshot_id`` time-travels to any snapshot still on the current
        lineage (snapshots are immutable file lists; vacuum() keeps every
        file the lineage references).
        """
        if snapshot_id is None:
            snap = self.current_snapshot()
        else:
            with open(self._snap_path(snapshot_id)) as f:
                snap = json.load(f)
        files = self._files_of(snap, buckets)
        if not files:
            return spark.createDataFrame([], _PHYS_SCHEMA_DDL)
        return spark.read.schema(_PHYS_SCHEMA_DDL).parquet(*files)

    def read(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        snapshot_id: str | None = None,
    ) -> DataFrame:
        """Resolved physical state: one row per key.  Snapshots marked
        ``delta_free`` (bootstrap / first-append / full compaction — see
        ``_commit``) already hold exactly one version per key, so the
        LWW fold (an exchange + sort over the whole read) is skipped."""
        if snapshot_id is None:
            snap = self.current_snapshot()
        else:
            with open(self._snap_path(snapshot_id)) as f:
                snap = json.load(f)
        # pin the file list to the SAME snapshot the flag came from: a
        # commit landing between two current-snapshot reads must never
        # pair snapshot A's delta_free with snapshot B's files (the
        # atomic-pointer never-torn-read contract)
        raw = self.read_raw(spark, buckets, snap["snapshot_id"])
        if snap.get("delta_free"):
            return raw
        return lww_resolve(raw)

    def read_logical(
        self, spark: SparkSession, snapshot_id: str | None = None
    ) -> DataFrame:
        from filipo_spark.operators.merge import logical

        return logical(self.read(spark, snapshot_id=snapshot_id))

    # --- write ---------------------------------------------------------
    def bootstrap(self, target: DataFrame, epoch: int = 0) -> CommitResult:
        """Seed the table from a logical target DataFrame (lsn=-1 rows).

        Precondition: ``target`` holds ONE row per (conv_id, turn_idx) —
        a resolved logical state, which is what every caller passes.
        The bootstrap snapshot is marked ``delta_free`` on that basis;
        a duplicate-keyed seed would surface both rows on read (before
        round 6 it was silently and NON-deterministically collapsed by
        the fold's (ts, _lsn=-1) tie — neither behavior is meaningful
        for an invalid seed, so the precondition is documented instead
        of paid for on every read)."""
        return self._commit(
            to_physical(target), epoch, offset_lo=-1, offset_hi=-1,
            touched=list(range(self.n_buckets)), evolution_events=[],
            kind="bootstrap",
        )

    def apply_epoch(
        self,
        spark: SparkSession,
        changes: DataFrame,
        epoch: int,
        offset_lo: int,
        offset_hi: int,
        evolution_events: list[str] | None = None,
    ) -> CommitResult:
        """One epoch: the batch's LWW winners become delta files → atomic
        commit.

        Idempotent: an (offset_lo, offset_hi] range already in the
        manifest is skipped without touching data.  O(batch) write: the
        bucket-aligned resolve is ONE payload shuffle sized to the
        session's task slots, ready for the partitionBy write; touched
        buckets are discovered from the staging output dirs (no pre-scan
        of the batch).
        """
        if (offset_lo, offset_hi) in self.committed_ranges():
            return CommitResult(epoch=epoch, snapshot_id=None, skipped=True)
        out = lww_resolve(changes_to_physical(changes), n_buckets=self.n_buckets,
                          salt_factor=self.salt_factor)
        return self._commit(
            out, epoch, offset_lo, offset_hi, None, evolution_events or [], kind="append",
        )

    def compact(
        self,
        spark: SparkSession,
        min_files: int = 4,
        buckets: list[int] | None = None,
        epoch: int = -1,
    ) -> CommitResult | None:
        """Fold buckets whose delta-file count exceeds ``min_files`` back
        to one resolved file each (MoR maintenance; bounds read
        amplification).  Tombstones are retained: no watermark GC exists
        yet (an open ROADMAP.md item)."""
        snap = self.current_snapshot()
        cands = [
            int(b) for b, fl in snap["files"].items()
            if len(fl) >= min_files and (buckets is None or int(b) in buckets)
        ]
        if not cands:
            return None
        # one folded file per bucket from one task per bucket: sized to
        # the slots instead, the few large tasks of a full compaction run
        # unevenly loaded and measured slower
        resolved = lww_resolve(
            self.read_raw(spark, buckets=cands), n_buckets=self.n_buckets,
            salt_factor=1, partitions=self.n_buckets,
        )
        return self._commit(
            resolved, epoch, offset_lo=None, offset_hi=None, touched=sorted(cands),
            evolution_events=[], kind="compact",
        )

    def _commit(
        self,
        out_phys: DataFrame,
        epoch: int,
        offset_lo: int | None,
        offset_hi: int | None,
        touched: list[int] | None,
        evolution_events: list[str],
        kind: str,
    ) -> CommitResult:
        """Write ``out_phys`` and commit it.  An append (``touched=None``)
        adds its files to the buckets it wrote; a bootstrap or compaction
        replaces the file lists of ``touched``.  The commit steps, in
        order: data files placed → ``_write_snapshot`` →
        ``_swap_current`` → ``_append_manifest``."""
        from pyspark.sql import Observation

        sid = f"{epoch:08d}-{uuid.uuid4().hex[:8]}"
        staging = os.path.join(self._data, f".staging-{sid}")
        obs = Observation(f"commit-{sid}")
        # one Spark job: bucket-partitioned input → sort within → one file
        # per bucket dir per task holding it.  Deterministic row order
        # inside each file (stable output contract).  If the caller
        # pre-bucketed (lww_resolve with n_buckets), no exchange happens
        # here at all.
        if "_bucket" not in out_phys.columns:
            # the bootstrap: same fan-out as an epoch's bucket-aligned
            # resolve (write_fanout), with the key-hash shard dropped
            # before the write so the file schema is unchanged
            parts, salt = write_fanout(
                out_phys.sparkSession.sparkContext.defaultParallelism,
                self.n_buckets, self.salt_factor,
            )
            out_phys = (
                out_phys.withColumn(
                    "_bucket", bucket_of(F.col("conv_id"), self.n_buckets)
                )
                .withColumn("_ws", F.pmod(F.xxhash64(*KEY_COLUMNS), F.lit(salt)))
                .repartition(parts, "_bucket", "_ws")
                .drop("_ws")
            )
        (
            out_phys.observe(obs, F.count(F.lit(1)).alias("rows_written"))
            # leading 64-bit key hash: the within-file order stays
            # deterministic (hash is a function of the key; the key
            # columns after it break ties) and identical conv_ids stay
            # clustered for parquet encoding, but the sorter's 8-byte
            # prefix now resolves ~all comparisons — string keys share
            # the long "conv-000..." prefix, which defeated it
            .sortWithinPartitions(F.xxhash64(*KEY_COLUMNS), *KEY_COLUMNS, "_lsn")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(staging)
        )
        n_rows = int(obs.get.get("rows_written", 0))
        fence = dict(offset_lo=offset_lo, offset_hi=offset_hi, kind=kind,
                     evolution_events=evolution_events)
        if touched is None:  # discover touched buckets from staging output
            touched = sorted(
                int(d.split("=")[1])
                for d in os.listdir(staging)
                if d.startswith("_bucket=")
            )
            if not touched:  # empty batch: manifest-only commit
                shutil.rmtree(staging, ignore_errors=True)
                return self._append_manifest(
                    CommitResult(epoch, self.current_snapshot_id(), skipped=False), **fence
                )
        parent = self.current_snapshot()
        bloom_meta = parent.get("bloom")
        if not self.bloom_bits and bloom_meta:
            # a table object constructed directly with bloom_bits=0 on a
            # table whose snapshots DO carry a sketch must not copy the
            # parent's sketch reference forward stale (the drift probe
            # would then see legitimately inserted keys as misses):
            # inherit the stored shape and fold this batch in, exactly
            # as load() would have configured it.
            self.bloom_bits = bloom_meta["bits"]
            self.bloom_k = bloom_meta["k"]
        if self.bloom_bits and kind == "compact":
            # a compaction introduces no keys — the child snapshot shares
            # the parent's sketch file (vacuum keeps any bloom file a
            # retained snapshot references)
            pass
        elif self.bloom_bits:
            # fold the staged batch's keys into the parent's sketch: ONE
            # column-pruned O(batch) job; the collected word/mask set is
            # bounded by the filter size (table/sketch.py).  Monotone
            # union — "ever seen" must keep deleted keys.
            from filipo_spark.table.sketch import KeyBloom

            spark = out_phys.sparkSession
            bloom = KeyBloom(self.bloom_bits, self.bloom_k).add_df(
                spark.read.parquet(staging).select(*KEY_COLUMNS)
            )
            if bloom_meta:
                bloom.union(
                    KeyBloom.load(
                        os.path.join(self.root, bloom_meta["file"]),
                        k=bloom_meta["k"],
                    )
                )
            rel = os.path.join("metadata", f"bloom-{sid}.bin")
            bloom.save(os.path.join(self.root, rel))
            bloom_meta = {"file": rel, "bits": self.bloom_bits, "k": self.bloom_k}
        files: dict[str, list[str]] = dict(parent["files"])
        n_files = 0
        for b in touched:
            src = os.path.join(staging, f"_bucket={b}")
            rel_dir = os.path.join("data", f"b={b}", f"snap-{sid}")
            dst = os.path.join(self.root, rel_dir)
            bucket_files: list[str] = []
            if os.path.isdir(src):
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.move(src, dst)
                bucket_files = sorted(
                    os.path.join(rel_dir, fn)
                    for fn in os.listdir(dst)
                    if fn.endswith(".parquet")
                )
            n_files += len(bucket_files)
            if kind == "append":
                files[str(b)] = files.get(str(b), []) + bucket_files
            else:
                files[str(b)] = bucket_files
        shutil.rmtree(staging, ignore_errors=True)
        # delta-free tracking (the Iceberg no-delete-files read path):
        # when every retained file is known to hold exactly one version
        # per key, readers skip the LWW resolve fold outright — no
        # exchange, no sort (read()).  True after a bootstrap (replace
        # of everything), after a first append into an empty table (the
        # batch was folded before writing), preserved or restored by a
        # compaction that rewrote every non-empty bucket; any append
        # onto existing data clears it.
        if kind == "bootstrap":
            delta_free = True
        elif kind == "compact":
            delta_free = parent.get("delta_free", False) or (
                {str(b) for b in touched}
                >= {b for b, fl in parent["files"].items() if fl}
            )
        else:
            delta_free = not any(parent["files"].values())
        snap = {
            "snapshot_id": sid,
            "parent": parent["snapshot_id"],
            "epoch": epoch,
            "n_buckets": self.n_buckets,
            "mode": "mor",
            "salt_factor": self.salt_factor,
            "delta_free": delta_free,
            "files": files,
        }
        if bloom_meta:
            snap["bloom"] = bloom_meta
        # crash ordering: snapshot json → CURRENT pointer → manifest line.
        # * crash before the pointer swap: old snapshot stays live, new
        #   files are orphans (vacuum()-collectable) — never a torn read;
        # * crash after the swap but before the manifest line: readers see
        #   the new state and the offset range is NOT yet fenced, so a
        #   restart re-applies the epoch — safe because the LWW fold is
        #   idempotent (the same winners land again; resolve converges).
        # The reverse order (manifest before pointer) would fence the
        # range while readers stay on the parent snapshot: the epoch would
        # be silently lost and its files vacuumed.
        self._write_snapshot(sid, snap)
        self._swap_current(sid)
        return self._append_manifest(
            CommitResult(epoch, sid, False, touched, n_rows, n_files), **fence
        )

    # --- maintenance ---------------------------------------------------
    def expire_snapshots(self, keep_last: int, force: bool = False) -> list[str]:
        """Retention horizon: drop all but the newest ``keep_last``
        snapshots from the lineage (their JSON files are removed; the
        chain walk then stops at the oldest survivor).  Data files only
        they referenced become vacuum()-collectable.

        This bounds metadata + storage growth for a long-lived table and
        defines the change-feed catch-up window: ``changes_between`` can
        serve any window whose snapshots survive — including across
        compactions, whose pre-compaction delta files stay referenced by
        their own append snapshots until those expire.  Keep
        ``keep_last`` larger than the slowest consumer's lag (the
        Iceberg ``expireSnapshots`` contract).

        Registered consumer cursors (``set_cursor``) make that sizing
        checkable: expiring a snapshot some cursor still points at would
        strand that consumer into a full re-read, so it raises instead —
        lagging consumers are a fact to surface, not to destroy evidence
        of.  ``force=True`` overrides (the operator has decided the
        consumer is dead).
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the current snapshot)")
        chain = self.snapshot_ids()
        expired = chain[:-keep_last]
        if not force:
            stranded = {
                name: sid for name, sid in self.cursors().items()
                if sid in expired or sid not in chain
            }
            if stranded:
                raise ValueError(
                    f"expire_snapshots(keep_last={keep_last}) would strand "
                    f"registered feed cursor(s) {stranded}: the consumer would "
                    "need a full snapshot re-read.  Raise keep_last above the "
                    "slowest consumer's lag, advance/delete the cursor, or "
                    "pass force=True."
                )
        for sid in expired:
            p = self._snap_path(sid)
            if os.path.exists(p):
                os.remove(p)
        return expired

    def vacuum(self) -> list[str]:
        """Delete data files (and bloom sketches) not referenced by the
        retained snapshot chain."""
        live: set[str] = set()
        live_blooms: set[str] = set()
        sid = self.current_snapshot_id()
        seen: set[str] = set()
        while sid and sid not in seen and os.path.exists(self._snap_path(sid)):
            seen.add(sid)
            with open(self._snap_path(sid)) as f:
                snap = json.load(f)
            for fl in snap["files"].values():
                live.update(fl)
            if "bloom" in snap:
                live_blooms.add(snap["bloom"]["file"])
            sid = snap.get("parent")
        removed = []
        for fn in os.listdir(self._meta):
            rel = os.path.join("metadata", fn)
            if fn.startswith("bloom-") and fn.endswith(".bin") and rel not in live_blooms:
                os.remove(os.path.join(self._meta, fn))
                removed.append(rel)
        for dirpath, _dirs, fns in os.walk(self._data):
            for fn in fns:
                p = os.path.join(dirpath, fn)
                rel = os.path.relpath(p, self.root)
                if fn.endswith(".parquet") and rel not in live:
                    os.remove(p)
                    removed.append(rel)
        return removed
