"""Epoch-fenced, exactly-once replay of a change log into an Icelet table.

The batch-mode twin of the Structured Streaming tail (streaming/tail.py).
All three drivers — ``run_replay``, ``run_drifted_replay`` and
``tail_changelog`` — are loops that feed one shared ``epoch_step``
(fence → health → realign → apply → compact), so a checkpointed stream
and a bounded replay produce identical state and identical manifests —
the BASELINE invariant.

Exactly-once protocol:
  1. plan epochs as half-open LSN ranges ``(lo, hi]`` of ``batch_size``;
  2. before applying an epoch, consult the table manifest — a committed
     range is skipped (duplicate replay, kill/resume);
  3. apply = bucket-aligned LWW fold of the batch → merge-on-read delta
     files → atomic snapshot+pointer+manifest commit (table/icelet.py).

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


@dataclass
class DriverRun:
    """What one driver run carries from epoch to epoch.

    ``heal`` turns on the per-epoch health check and realign (the
    drifted replay, and the tail with ``auto_realign``).  ``events``
    holds the current mapping's evolution events until a commit carries
    them: the first commit of the run under a seed mapping or a fresh
    realign.  ``committed`` is the manifest fence, read once per run and
    extended by the run's own commits.  ``seen`` counts the epochs
    handed to the step (the health cadence), ``applied`` the epochs it
    committed (the compaction cadence)."""

    table: IceletTable
    mapping: object = None
    heal: bool = False
    drift_threshold: float | None = None
    health_sample: int = 1024
    align_kwargs: dict | None = None
    key_check_every: int | None = None
    echo_check_every: int = 0
    compact_every: int = 0
    compact_min_files: int = 8
    events: list[str] = field(default_factory=list)
    committed: set[tuple[int, int]] = field(init=False)
    seen: int = 0
    applied: int = 0
    realigns: list[dict] = field(default_factory=list)

    def __post_init__(self):
        self.committed = self.table.committed_ranges()
        if self.mapping is not None:
            self.events = list(self.mapping.evolution_events)


def epoch_step(
    spark: SparkSession,
    run: DriverRun,
    batch: DataFrame,
    epoch: int,
    lo: int | None = None,
    hi: int | None = None,
    scope: str = "epoch",
) -> CommitResult | None:
    """Apply one epoch of ``batch`` to ``run.table`` exactly once.

    ``(lo, hi]`` is the epoch's offset range; ``None`` takes it from
    the batch's LSN bounds (a micro-batch — lsn passes the mapping
    projection untouched), and an empty micro-batch returns ``None``
    without committing anything.  An already-fenced range returns a
    skipped result before any other work.

    With ``run.heal``, the batch is persisted for the step (it is read
    2-4×: bounds, health sample, the align probe, the apply) and its
    mapping health is observed on a bounded sample (align/drift.py).
    ``key_check_every=k`` adds the ``key_miss_ratio`` term on every k-th
    epoch (``None``: every epoch when the table keeps a key bloom
    sketch, else off); ``echo_check_every=k`` adds the sampled echo
    audit.  When a ratio crosses the threshold — or no mapping exists
    yet and the epoch is not empty — ``align()`` re-learns the mapping
    from the batch against the table's current resolved state, and the
    swap is fenced as a ``realign:<scope>=<epoch>`` evolution event.
    ``align`` and ``mapping_health`` are looked up at call time.
    """
    table = run.table
    if run.heal:
        batch = batch.persist()
    try:
        bounded = lo is None
        if bounded:
            b = batch.agg(F.min("lsn").alias("lo"), F.max("lsn").alias("hi")).collect()[0]
            if b["lo"] is None:
                return None
            lo, hi = int(b["lo"]) - 1, int(b["hi"])
        seq, run.seen = run.seen, run.seen + 1
        if (lo, hi) in run.committed:
            return CommitResult(epoch=epoch, snapshot_id=None, skipped=True)
        if run.heal:
            from filipo_spark.align import align
            from filipo_spark.align.drift import (
                DRIFT_THRESHOLD,
                mapping_health,
                realign_event,
                should_realign,
            )

            health = None
            if run.mapping is None:
                # learn from the first epoch with rows: the bounds showed
                # them, else one bounded limit(1) job on the persisted slice
                relearn = bounded or bool(batch.limit(1).count())
            else:
                kce = run.key_check_every
                if kce is None:
                    kce = 1 if table.bloom_bits else 0
                tkeys = None
                if kce and seq % kce == 0:
                    # the sketch when available (no table read; reloaded
                    # per check — this run's commits add keys), else the
                    # documented column-pruned key scan
                    tkeys = (
                        table.key_bloom()
                        if table.bloom_bits
                        else table.read_raw(spark).select("conv_id", "turn_idx")
                    )
                echo = run.echo_check_every
                health = mapping_health(
                    batch, run.mapping, run.health_sample, target_keys=tkeys,
                    echo_table=table if echo and seq % echo == 0 else None,
                )
                relearn = should_realign(
                    health,
                    DRIFT_THRESHOLD if run.drift_threshold is None else run.drift_threshold,
                )
            if relearn:
                run.mapping = align(batch, table.read_logical(spark), **(run.align_kwargs or {}))
                event = realign_event(f"{scope}={epoch}", lo, hi, health, run.mapping)
                run.events = [event] + list(run.mapping.evolution_events)
                run.realigns.append(
                    {"epoch": epoch, "offset_lo": lo, "offset_hi": hi,
                     "health": health, "event": event}
                )
        typed = batch
        if run.mapping is not None:
            from filipo_spark.align import apply_mapping

            typed = apply_mapping(batch, run.mapping)
        elif run.heal:  # an empty epoch before any mapping exists
            from filipo_spark.schema import CHANGE_SCHEMA

            typed = spark.createDataFrame([], CHANGE_SCHEMA)
        res = table.apply_epoch(spark, typed, epoch, lo, hi, evolution_events=run.events)
    finally:
        if run.heal:
            batch.unpersist()
    if res.skipped:  # fenced by another writer since this run began
        return res
    run.committed.add((lo, hi))
    run.events = []
    run.applied += 1
    if run.compact_every and run.applied % run.compact_every == 0:
        table.compact(spark, min_files=run.compact_min_files, epoch=epoch)
    return res


def plan_epochs(lsn_min: int, lsn_max: int, batch_size: int) -> list[tuple[int, int]]:
    """Half-open (lo, hi] ranges covering [lsn_min, lsn_max]."""
    ranges = []
    lo = lsn_min - 1
    while lo < lsn_max:
        hi = min(lo + batch_size, lsn_max)
        ranges.append((lo, hi))
        lo = hi
    return ranges


def _replay(
    spark: SparkSession,
    run: DriverRun,
    source: DataFrame,
    batch_size: int,
    bounds: tuple[int, int, int] | None,
    epochs: list[tuple[int, int]] | None = None,
    max_epochs: int | None = None,
) -> ReplayReport:
    """Plan the epochs of ``source`` and feed them to ``epoch_step``.

    Explicit ``epochs`` need no extent scan (a full source scan), so
    without ``bounds`` ``events_seen`` stays unknown; an entirely empty
    source then returns WITHOUT fencing the ranges as committed empty
    epochs — the data may simply not have landed yet, and a fenced range
    would be skipped forever on the later replay.  That check is one
    bounded job (stops at the first row found)."""
    report = ReplayReport(mapping=run.mapping)
    if bounds is None and epochs is None:
        row = source.agg(
            F.min("lsn").alias("lo"), F.max("lsn").alias("hi"), F.count("*").alias("n")
        ).collect()[0]
        bounds = (row["lo"], row["hi"], row["n"])
    if bounds is not None:
        report.events_seen = bounds[2] or 0
        if not bounds[2]:
            return report
    elif not source.limit(1).count():
        return report
    if epochs is None:
        epochs = plan_epochs(bounds[0], bounds[1], batch_size)
    for epoch, (lo, hi) in enumerate(epochs[:max_epochs]):
        batch = source.where((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        res = epoch_step(spark, run, batch, epoch, lo, hi)
        if res.skipped:
            report.epochs_skipped += 1
        else:
            report.commits.append(res)
            report.epochs_applied += 1
    report.realigns, report.mapping = run.realigns, run.mapping
    return report


def run_replay(
    spark: SparkSession,
    table: IceletTable,
    source: DataFrame,
    batch_size: int = 100_000,
    max_epochs: int | None = None,
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
    it is a wasted job per replay).  The epoch slices are not persisted:
    each is read exactly once, by the apply.
    """
    run = DriverRun(table, compact_every=compact_every,
                    compact_min_files=compact_min_files)
    return _replay(spark, run, source, batch_size, bounds, max_epochs=max_epochs)


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
    run = DriverRun(
        table, mapping, heal=True, drift_threshold=drift_threshold,
        health_sample=health_sample, align_kwargs=align_kwargs,
        key_check_every=key_check_every, echo_check_every=echo_check_every,
        compact_every=compact_every, compact_min_files=compact_min_files,
    )
    return _replay(spark, run, drifted, batch_size, bounds, epochs=epochs)
