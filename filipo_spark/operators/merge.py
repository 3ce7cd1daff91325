"""MERGE-style upsert apply: changes ⟗ target on (conv_id, turn_idx).

The engine's equivalent of the reference's only upsert — the function
store's delete-then-insert keyed by a deterministic subject
(OutputManager.java:65-70, 296-303) — generalized to LWW MERGE.

Design point (why the physical table carries metadata): final state must
be **independent of micro-batch boundaries and replay** (BASELINE
invariant).  A batch-local winner with an out-of-order (older) event
time must NOT overwrite a newer row applied by an earlier batch, and an
event older than an applied delete must stay dead.  Therefore each
physical row retains the LWW ordinal of the event that produced it:

    physical = TARGET_COLUMNS + (_lsn bigint, _deleted boolean)

Deletes are retained as tombstones.  MERGE is then a *fold of an
associative, commutative max* over (ts, _lsn) per key — order- and
batching-insensitive by construction, so replay from any checkpoint
reproduces byte-identical state.  Tombstones are kept: no watermark GC
drops them yet (an open ROADMAP.md item).

Execution shape (scale): MERGE = union(target rows, batch rows) →
``max_by`` per key over ``(ts, _lsn)``, one exchange.  ``max_by``'s
struct buffer is not HashAggregate-mutable, so Spark plans
Sort→SortAggregate: a partial pass runs before the exchange when the
fold is exchanged on the key, both passes after it when a table write
exchanges on ``(_bucket, _salt)`` (sized by ``write_fanout``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from filipo_spark.schema import KEY_COLUMNS, N_BUCKETS_DEFAULT, TARGET_COLUMNS

PHYS_META = ["_lsn", "_deleted"]
PHYS_COLUMNS = TARGET_COLUMNS + PHYS_META

# event-time ordering with null-safe floor; _lsn (unique) breaks ties
_TS0 = "1970-01-01 00:00:00"


def _order_struct() -> Column:
    return F.struct(F.coalesce(F.col("ts"), F.to_timestamp(F.lit(_TS0))), F.col("_lsn"))


def bucket_of(col_conv_id, n_buckets: int = N_BUCKETS_DEFAULT) -> Column:
    """Physical bucket id of a conversation: pmod(xxhash64(conv_id), N)."""
    return F.pmod(F.xxhash64(col_conv_id), F.lit(n_buckets)).cast("int")


def to_physical(target: DataFrame) -> DataFrame:
    """Bootstrap: lift a logical target table to physical rows (_lsn=-1)."""
    return target.select(
        *TARGET_COLUMNS, F.lit(-1).cast("long").alias("_lsn"), F.lit(False).alias("_deleted")
    )


def logical(physical: DataFrame) -> DataFrame:
    """User-facing view: live rows only, logical schema."""
    return physical.where(~F.col("_deleted")).select(*TARGET_COLUMNS)


def write_fanout(parallelism: int, n_buckets: int, salt_factor: int) -> tuple[int, int]:
    """``(partitions, salt)`` of a bucket-aligned table write on a session
    with ``parallelism`` task slots.

    The salt splits a bucket across tasks only when the slots outnumber
    the buckets, and never past the table's ``salt_factor``; the
    partition count never exceeds the slots.  A write therefore makes at
    most ``salt`` files per touched bucket — exactly one when
    ``parallelism <= n_buckets`` — and a large cluster
    (``parallelism >= n_buckets * salt_factor``) gets the full
    ``n_buckets * salt_factor`` fan-out."""
    salt = max(1, min(salt_factor, -(-parallelism // n_buckets)))
    return min(n_buckets * salt, parallelism), salt


def lww_resolve(
    phys: DataFrame,
    n_buckets: int | None = None,
    salt_factor: int = 2,
    partitions: int | None = None,
) -> DataFrame:
    """Fold physical rows (possibly many versions per key) to the
    winning version per key — the merge-on-read resolve step.  One
    exchange; the fold is associative, so any union of base and delta
    files resolves correctly.

    With ``n_buckets`` set, the fold is *bucket-aligned*: rows are
    exchanged once on ``(_bucket, _salt)`` where ``_bucket =
    pmod(xxhash64(conv_id), n)`` and ``_salt`` is a key-hash shard.
    Both are functions of the key, so the partitioning clusters keys;
    grouping includes them so Catalyst adds NO second exchange, and the
    output is ready for a partitionBy write — one payload shuffle per
    epoch total.  The partition count and salt come from
    ``write_fanout`` over the session's ``defaultParallelism`` (the
    table's ``salt_factor`` is only an upper bound), so a write makes at
    most ``salt_factor`` files per touched bucket and exactly one on a
    session with no more task slots than buckets.  ``partitions``
    overrides the count and uses ``salt_factor`` as given (compaction's
    one task per bucket).  On this branch raw rows cross the exchange:
    the explicit repartition puts both SortAggregate passes after the
    shuffle, so there is no map-side combine (the unbucketed branch
    keeps its partial pass before the exchange).

    ``_kh`` (xxhash64 of the key) leads the grouping columns purely for
    sort economics: SortAggregate orders by the grouping columns as
    declared, and UnsafeExternalSorter compares 8-byte prefixes first.
    With low-cardinality ``(_bucket, _salt)`` in front, nearly every
    comparison fell through the prefix and dereferenced row pages
    (random access — the measured memory-stall term at high
    parallelism); a 64-bit key hash in front resolves ~all comparisons
    in the pointer array.  Same groups, same single exchange
    (hash(_bucket,_salt) still satisfies the clustered distribution),
    ~10% faster fold at both 1 and 4 pinned cores."""
    others = [c for c in PHYS_COLUMNS if c not in KEY_COLUMNS]
    if n_buckets is None:
        # `_kh` leads the grouping for the same sort economics as the
        # bucketed branch below: max_by's struct buffer forces a
        # SortAggregate, and sorting string keys sharing a long common
        # prefix ("conv-000...") defeats the 8-byte sort prefix — a
        # leading 64-bit key hash resolves ~all comparisons in the
        # pointer array.  Groups are identical (the hash is a function
        # of the key), so the fold's result is byte-identical; an
        # upstream exchange on the bare key still satisfies the
        # clustered distribution (subset rule), so no extra shuffle.
        agg = (
            phys.withColumn("_kh", F.xxhash64(*KEY_COLUMNS))
            .groupBy("_kh", *KEY_COLUMNS)
            .agg(F.max_by(F.struct(*others), _order_struct()).alias("_w"))
        )
        return agg.select(
            *KEY_COLUMNS, *[F.col(f"_w.{c}").alias(c) for c in others]
        ).select(*PHYS_COLUMNS)
    if partitions is None:
        partitions, salt_factor = write_fanout(
            phys.sparkSession.sparkContext.defaultParallelism, n_buckets, salt_factor
        )
    b = (
        phys.withColumn("_kh", F.xxhash64(*KEY_COLUMNS))
        .withColumn("_bucket", bucket_of(F.col("conv_id"), n_buckets))
        .withColumn("_salt", F.pmod("_kh", F.lit(salt_factor)))
    )
    agg = (
        b.repartition(partitions, "_bucket", "_salt")
        .groupBy("_kh", "_bucket", "_salt", *KEY_COLUMNS)
        .agg(F.max_by(F.struct(*others), _order_struct()).alias("_w"))
    )
    return agg.select(
        "_bucket", *KEY_COLUMNS, *[F.col(f"_w.{c}").alias(c) for c in others]
    ).select("_bucket", *PHYS_COLUMNS)


def changes_to_physical(changes: DataFrame) -> DataFrame:
    """CHANGE_SCHEMA rows → physical rows (op folded into _deleted)."""
    return changes.select(
        *TARGET_COLUMNS,
        F.col("lsn").alias("_lsn"),
        (F.col("op") == "D").alias("_deleted"),
    )


def apply_batch(target_phys: DataFrame, changes: DataFrame) -> DataFrame:
    """Full micro-batch apply: LWW dedup + MERGE fused into ONE
    aggregation over union(target, batch).

    Because LWW is an associative/commutative max over (ts, _lsn),
    dedup-then-merge and merge-directly are the same fold; fusing them
    halves the shuffles on the hot path (one exchange on the key, with
    map-side partial aggregation absorbing hot-conversation skew).
    The in-memory form of what ``IceletTable.apply_epoch`` commits —
    the fold the tests and the batched-replay query check tables
    against."""
    return lww_resolve(
        target_phys.select(*PHYS_COLUMNS).unionByName(changes_to_physical(changes))
    )


def canonical(df: DataFrame) -> DataFrame:
    """Stable output ordering for state-equality checks (BASELINE invariant:
    per-turn text equality under stable (conv_id, turn_idx) ordering)."""
    cols = [c for c in TARGET_COLUMNS if c in df.columns]
    return df.select(*cols).orderBy(*KEY_COLUMNS)
