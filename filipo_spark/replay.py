"""Epoch-fenced, exactly-once replay of a change log into an Icelet table.

The batch-mode twin of the Structured Streaming tail (streaming/tail.py);
both funnel through ``IceletTable.apply_epoch`` (→ ``apply_batch``
semantics) so a checkpointed stream and a bounded replay produce
identical state — the BASELINE invariant.

Exactly-once protocol:
  1. plan epochs as half-open LSN ranges ``(lo, hi]`` of ``batch_size``;
  2. before applying an epoch, consult the table manifest — a committed
     range is skipped (duplicate replay, kill/resume);
  3. apply = LWW dedup → per-bucket copy-on-write MERGE → atomic
     snapshot+manifest+pointer commit (table/icelet.py).

Because MERGE is an associative LWW fold over ``(ts, lsn)``, replay from
*any* checkpoint — including overlapping re-delivery — converges to the
same final state; the manifest fence exists to avoid wasted work and to
record lineage, not to protect correctness.

Reference analog: FiLiPo's probing loop keeps ``candidateOffsetMap`` so
an aborted run can resume sampling where it stopped
(AlignmentProcessor.java:46,1028,1135); the manifest is that bookkeeping
made durable and atomic.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filipo_spark.table.icelet import CommitResult, IceletTable


@dataclass
class ReplayReport:
    epochs_applied: int = 0
    epochs_skipped: int = 0
    # source events in the planned LSN extent; None when the extent was
    # never scanned (explicit epoch ranges without ``bounds``)
    events_seen: int | None = None
    commits: list[CommitResult] = field(default_factory=list)
    realigns: list[dict] = field(default_factory=list)
    mapping: object = None  # final Mapping of a drifted replay

    @property
    def rows_committed(self) -> int:
        """Physical rows this replay's commits wrote (the manifest's
        ``n_rows``): per-epoch winners, so at most the events applied."""
        return sum(c.n_rows for c in self.commits)


def plan_epochs(lsn_min: int, lsn_max: int, batch_size: int) -> list[tuple[int, int]]:
    """Half-open (lo, hi] ranges covering [lsn_min, lsn_max]."""
    ranges = []
    lo = lsn_min - 1
    while lo < lsn_max:
        hi = min(lo + batch_size, lsn_max)
        ranges.append((lo, hi))
        lo = hi
    return ranges


def run_replay(
    spark: SparkSession,
    table: IceletTable,
    source: DataFrame,
    batch_size: int = 100_000,
    max_epochs: int | None = None,
    fail_after_data_write_on_epoch: int | None = None,
    compact_every: int = 0,
    compact_min_files: int = 8,
    bounds: tuple[int, int, int] | None = None,
) -> ReplayReport:
    """Replay ``source`` (CHANGE_SCHEMA) into ``table`` in LSN-ordered epochs.

    ``compact_every=k`` folds over-fragmented buckets every k applied
    epochs (MoR maintenance — bounds read amplification during long
    replays).  ``bounds=(lsn_min, lsn_max, n_events)`` skips the
    planning aggregation when the caller already knows the log extent
    (a CDC coordinator reading a binlog/Kafka source always does — the
    broker hands it the offset range; re-scanning the log to rediscover
    it is a wasted job per replay).  ``fail_after_data_write_on_epoch``
    is a test hook simulating a crash after data files land but before
    the commit pointer swaps (the dangerous window of any two-phase
    commit).
    """
    if bounds is None:
        row = source.agg(
            F.min("lsn").alias("lo"), F.max("lsn").alias("hi"), F.count("*").alias("n")
        ).collect()[0]
        bounds = (row["lo"], row["hi"], row["n"])
    report = ReplayReport(events_seen=bounds[2] or 0)
    if not bounds[2]:
        return report
    ranges = plan_epochs(bounds[0], bounds[1], batch_size)
    committed = table.committed_ranges()
    for epoch, (lo, hi) in enumerate(ranges):
        if max_epochs is not None and epoch >= max_epochs:
            break
        if (lo, hi) in committed:
            report.epochs_skipped += 1
            continue
        batch = source.where((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        if fail_after_data_write_on_epoch == epoch:
            _crash_mid_commit(spark, table, batch, epoch, lo, hi)
        res = table.apply_epoch(spark, batch, epoch, lo, hi)
        report.commits.append(res)
        report.epochs_applied += 1
        if compact_every and report.epochs_applied % compact_every == 0:
            table.compact(spark, min_files=compact_min_files, epoch=epoch)
    return report


def run_drifted_replay(
    spark: SparkSession,
    table: IceletTable,
    drifted: DataFrame,
    batch_size: int = 100_000,
    epochs: list[tuple[int, int]] | None = None,
    mapping=None,
    drift_threshold: float | None = None,
    health_sample: int = 1024,
    align_kwargs: dict | None = None,
    compact_every: int = 0,
    compact_min_files: int = 8,
    bounds: tuple[int, int, int] | None = None,
    key_check_every: int | None = None,
    echo_check_every: int = 0,
) -> ReplayReport:
    """Self-healing replay of a DRIFTED change stream (payload as
    map<string,string> or raw JSON string) into ``table``.

    ``key_check_every=k`` adds the opt-in ``key_miss_ratio`` health term
    (drift.py) on every k-th epoch — catches value-level corruption of a
    string-typed key.  Default (``None``) auto-resolves: **every epoch**
    when the table maintains a key bloom sketch (``bloom_bits`` at
    create — the probe is then one bounded job with zero table I/O,
    table/sketch.py), else off (the fallback costs a column-pruned key
    scan of the table per checked epoch, so the operator must opt in and
    pick a cadence).  ``echo_check_every=k`` adds the sampled echo audit
    (``echo_mismatch_ratio``) on every k-th epoch — catches value-level
    corruption of mapped NON-key columns (e.g. ``text`` arriving base64)
    by comparing sampled UPDATE payloads against the table's current row
    values; costs a bucket-pruned read of the sampled keys' buckets, so
    it too is a cadence.

    Per epoch: observe mapping health on a bounded sample
    (align/drift.py); when the unmapped-field or cast-failure ratio
    exceeds ``drift_threshold`` — or no mapping exists yet — run
    ``align()`` on that epoch's probe sample against the table's current
    resolved state, hot-swap the mapping, and record the re-alignment
    (offset range, observed ratios, mapping content hash) as a
    ``realign:`` evolution event in the commit manifest.  The reference
    analog is re-probing on every run (AlignmentProcessor.java:72-95);
    here probing cost is paid only when the stream actually drifts.

    ``epochs`` overrides LSN-range planning with explicit half-open
    ``(lo, hi]`` ranges (Kafka-style offset assignment); otherwise
    epochs are planned exactly like ``run_replay``.
    """
    from filipo_spark.align import align, apply_mapping
    from filipo_spark.align.drift import (
        DRIFT_THRESHOLD,
        mapping_health,
        realign_event,
        should_realign,
    )
    from filipo_spark.schema import CHANGE_SCHEMA

    threshold = DRIFT_THRESHOLD if drift_threshold is None else drift_threshold
    align_kwargs = align_kwargs or {}
    if bounds is None and epochs is None:
        # LSN-range planning needs the log extent; explicit Kafka-style
        # ranges do NOT — the planning aggregation is a full source
        # scan, so it is skipped whenever the caller already fixed the
        # ranges (events_seen is then unknown unless bounds are passed;
        # rows_committed and the manifest's n_rows still count the work)
        row = drifted.agg(
            F.min("lsn").alias("lo"), F.max("lsn").alias("hi"), F.count("*").alias("n")
        ).collect()[0]
        bounds = (row["lo"], row["hi"], row["n"])
    report = ReplayReport(
        events_seen=(bounds[2] or 0) if bounds is not None else None, mapping=mapping
    )
    if bounds is not None and not bounds[2]:
        return report
    if bounds is None and not drifted.limit(1).count():
        # an entirely empty source must return WITHOUT fencing the
        # explicit ranges as committed empty epochs — the data may
        # simply not have landed yet, and a fenced range would be
        # skipped forever on the later replay.  One bounded job (stops
        # at the first row found), not the full extent scan this path
        # used to pay.
        return report
    ranges = epochs if epochs is not None else plan_epochs(
        bounds[0], bounds[1], batch_size
    )
    committed = table.committed_ranges()
    if key_check_every is None:
        key_check_every = 1 if table.bloom_bits else 0
    for epoch, (lo, hi) in enumerate(ranges):
        if (lo, hi) in committed:
            report.epochs_skipped += 1
            continue
        # the epoch slice is consumed 2-3×: health sample, the align()
        # probe sample on a realign, and the full apply.  Unlike the
        # undrifted replay (exactly ONE pass per epoch — no cache there),
        # that reuse justifies a persist: upstream of this DataFrame may
        # be an arbitrary source lineage, and re-deriving it per action
        # multiplies the dominant cost of a realigning epoch.  Standard
        # micro-batch shape: MEMORY_AND_DISK, released before the next
        # epoch.
        batch = drifted.where((F.col("lsn") > lo) & (F.col("lsn") <= hi)).persist()
        try:
            tkeys = None
            if mapping is not None and key_check_every and epoch % key_check_every == 0:
                # sketch when available (bounded job, no table read; reloaded
                # per check — THIS replay's commits add keys); else the
                # documented column-pruned key scan
                tkeys = (
                    table.key_bloom()
                    if table.bloom_bits
                    else table.read_raw(spark).select("conv_id", "turn_idx")
                )
            echo_tbl = (
                table
                if mapping is not None and echo_check_every
                and epoch % echo_check_every == 0
                else None
            )
            health = (
                None
                if mapping is None
                else mapping_health(
                    batch, mapping, health_sample, target_keys=tkeys,
                    echo_table=echo_tbl,
                )
            )
            batch_nonempty = True
            if mapping is None:
                # epoch emptiness, judged per mapping-less epoch on the
                # already-persisted slice (one bounded limit(1) job —
                # the scan stops at the first row found, and the work
                # feeds the persist the next action needs anyway).  This
                # replaces the former grouped attribution scan over the
                # FULL source: no job at all runs once a mapping exists,
                # and because each epoch's own range filter decides,
                # overlapping or duplicate explicit Kafka-style ranges
                # can no longer mis-attribute a shared row to a single
                # epoch and silently drop the other's (ADVICE r5).
                batch_nonempty = bool(batch.limit(1).count())
            evo: list[str] = []
            if (mapping is None and batch_nonempty) or (
                health is not None and should_realign(health, threshold)
            ):
                mapping = align(batch, table.read_logical(spark), **align_kwargs)
                evo = [realign_event(f"epoch={epoch}", lo, hi, health, mapping)] + list(
                    mapping.evolution_events
                )
                report.realigns.append(
                    {"epoch": epoch, "offset_lo": lo, "offset_hi": hi,
                     "health": health, "event": evo[0]}
                )
                report.mapping = mapping
            if mapping is None:  # empty batch before any mapping exists
                typed = spark.createDataFrame([], CHANGE_SCHEMA)
            else:
                typed = apply_mapping(batch, mapping)
            res = table.apply_epoch(spark, typed, epoch, lo, hi, evolution_events=evo)
        finally:
            batch.unpersist()
        report.commits.append(res)
        report.epochs_applied += 1
        if compact_every and report.epochs_applied % compact_every == 0:
            table.compact(spark, min_files=compact_min_files, epoch=epoch)
    return report


def _crash_mid_commit(spark, table, batch, epoch, lo, hi) -> None:
    """Write data files exactly as a real commit would, then raise —
    leaving orphans that no snapshot references."""
    from filipo_spark.operators.dedup import lww_dedup
    from filipo_spark.operators.merge import bucket_of, merge_upserts
    import os

    winners = lww_dedup(batch).withColumn("_b", bucket_of(F.col("conv_id"), table.n_buckets))
    touched = sorted(r["_b"] for r in winners.select("_b").distinct().collect())
    old = table.read(spark, buckets=touched)
    new_phys = merge_upserts(old, winners.drop("_b"))
    orphan_dir = os.path.join(table.root, "data", "b=0", "snap-orphan-crash")
    new_phys.write.mode("overwrite").parquet(orphan_dir)
    raise RuntimeError(f"simulated crash mid-commit of epoch {epoch} ({lo},{hi}]")
