"""Structured Streaming tail of the change log into an Icelet table.

The streaming twin of ``replay.run_replay``: every micro-batch goes
through the same ``replay.epoch_step`` (fence → health → realign →
apply → compact), so a checkpointed stream and a bounded batch replay
produce identical state and identical manifests.  This is the
``foreachBatch`` pattern the north_star mandates: one shared apply
function, several drivers.

Exactly-once composition:
* Structured Streaming's checkpoint guarantees at-least-once delivery of
  each micro-batch to ``foreachBatch`` (re-delivery after restart);
* the Icelet manifest fence turns re-delivery into a no-op (the batch's
  LSN range is already committed);
* and even a *torn* fence would be safe: the LWW MERGE fold is
  idempotent by construction.
Watermarks are deliberately unnecessary for correctness — max-(ts,lsn)
merge is order-insensitive (SURVEY §2.9).  Tombstones are retained:
no watermark GC exists yet (an open ROADMAP.md item).

Throttling: ``maxFilesPerTrigger`` is the engine's analog of the
reference's 500 ms politeness delay on its serial HTTP source
(AlignmentProcessor.java:1162-1167, config.json:9) — back-pressure at
the source, not sleeps in the operator.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from filipo_spark.replay import DriverRun, epoch_step
from filipo_spark.schema import CHANGE_SCHEMA, DRIFTED_JSON_SCHEMA, DRIFTED_SCHEMA
from filipo_spark.table.icelet import IceletTable


def tail_changelog(
    spark: SparkSession,
    source_dir: str,
    table: IceletTable,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    mapping=None,
    auto_realign: bool = False,
    drift_threshold: float | None = None,
    health_sample: int = 1024,
    align_kwargs: dict | None = None,
    compact_every: int = 0,
    compact_min_files: int = 8,
    source_format: str | None = None,
    key_check_every: int | None = None,
    echo_check_every: int = 0,
) -> dict:
    """Tail parquet change files from ``source_dir`` into ``table``.

    ``available_now=True`` drains everything currently present and stops
    (the testable mode); pass False for a continuous micro-batch tail.
    ``mapping`` (align.Mapping) re-types drifted payloads in-stream; the
    projection is applied INSIDE foreachBatch so the mapping can be
    hot-swapped mid-stream.  With ``auto_realign=True`` each micro-batch
    is health-checked on a bounded sample (align/drift.py): when the
    unmapped-field or cast-failure ratio crosses ``drift_threshold``,
    ``align()`` re-learns the mapping from that batch's probe sample
    against the table's current resolved state and the swap is recorded
    as a ``realign:`` evolution event in the commit manifest — the
    stream heals itself when the wire shape drifts (reference analog:
    re-probing each run, AlignmentProcessor.java:72-95).
    ``compact_every=k`` folds over-fragmented buckets every k applied
    batches — the long-running-stream twin of replay's MoR maintenance
    (read amplification stays bounded while the tail runs for months).

    Mapping-less bootstrap: with ``auto_realign=True`` and no seed
    ``mapping``, pass ``source_format`` ('drifted' for a
    map<string,string> payload wire, 'json' for a raw JSON-string
    payload) — the read schema is fixed at readStream time, so the wire
    shape must be declared; the mapping itself is then learned from the
    first non-empty micro-batch against the table's current resolved
    state (same ``reason=init`` fence the replay path writes) — a
    pure-streaming deployment needs no manual batch alignment step.
    ``key_check_every`` and ``echo_check_every`` add the opt-in health
    terms on every k-th batch, as in ``replay.run_drifted_replay``.
    Every micro-batch runs through ``replay.epoch_step``.
    """
    if source_format not in (None, "drifted", "json"):
        raise ValueError(f"unknown source_format: {source_format!r}")
    if source_format and mapping is None and not auto_realign:
        raise ValueError(
            "a drifted source without a mapping needs auto_realign=True "
            "(bootstrap from the first micro-batch) — raw payload rows "
            "cannot be applied to the table"
        )
    if not source_format and mapping is None and auto_realign:
        raise ValueError(
            "auto_realign without a seed mapping requires source_format="
            "'drifted'|'json' (the wire shape must be declared at "
            "readStream time to bootstrap the mapping in-stream)"
        )
    if not source_format and mapping is not None:
        # a raw-JSON wire WAL: the mapping carries the payload schema
        # captured at align() time, so no inference runs on the stream
        source_format = "json" if getattr(mapping, "payload_json_schema", None) else "drifted"
    schema = {None: CHANGE_SCHEMA, "drifted": DRIFTED_SCHEMA, "json": DRIFTED_JSON_SCHEMA}
    stream = spark.readStream.schema(schema[source_format])
    if max_files_per_trigger:
        stream = stream.option("maxFilesPerTrigger", max_files_per_trigger)
    df = stream.parquet(source_dir)

    run = DriverRun(
        table, mapping, heal=auto_realign, drift_threshold=drift_threshold,
        health_sample=health_sample, align_kwargs=align_kwargs,
        key_check_every=key_check_every, echo_check_every=echo_check_every,
        compact_every=compact_every, compact_min_files=compact_min_files,
    )
    stats = {"batches": 0, "skipped": 0, "realigns": 0, "mapping": mapping}

    def apply_fn(batch_df, batch_id: int) -> None:
        res = epoch_step(spark, run, batch_df, int(batch_id), scope="batch")
        if res is None:  # empty micro-batch
            return
        stats["batches"] += 1
        stats["skipped"] += int(res.skipped)
        stats["realigns"], stats["mapping"] = len(run.realigns), run.mapping

    writer = df.writeStream.foreachBatch(apply_fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.start()
        stats["query"] = q
    return stats
