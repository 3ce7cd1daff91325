"""Key-membership bloom filter persisted with each Icelet snapshot.

Closes the cost gap of the drift detector's ``key_miss_ratio`` probe
(align/drift.py): without a sketch, deciding "has the table ever seen
this key?" for a bounded batch sample costs one column-pruned scan of
the table's key columns per check — O(table files) I/O, so the probe
had to run on a cadence.  With a per-snapshot bloom filter the probe is
ONE bounded Spark job over the sample (compute the k bit positions) and
a driver-side bit test against the loaded sketch — zero table data-file
I/O — so it can run every epoch.

Construction is monotone (keys are only ever added), which matches the
probe's semantics exactly: "ever seen" must include deleted keys — an
UPDATE or DELETE addressing a key that once existed is normal CDC
traffic, while a *corrupted* key (e.g. ``conv_id`` arriving prefixed)
has never been seen under any snapshot.  Hence union-with-parent on
every commit that adds keys; a compaction adds none and shares its
parent's sketch.

False positives (the bloom's only error mode) can only UNDER-count
misses — the probe may report a slightly lower ``key_miss_ratio`` than
truth, never a spurious drift alarm.  At the default sizing
(``bits=2**23``, ``k=5``) the filter holds ~1M keys under 2% FP in a
1 MiB file; at 100 TB (~10^10 keys) the same design shards naturally —
one bloom per bucket, built from each bucket's staged files in the same
commit job — the single-file form here is the sandbox-scale instance of
that layout.

Hashing: bit positions are always computed IN SPARK (``positions()``)
from ``xxhash64`` over the key columns, for build and probe alike, so
JVM 64-bit overflow semantics can never disagree with driver-side
Python arithmetic.  Both hashes are reduced mod ``bits`` before the
double-hashing combine, keeping every intermediate far from Long
overflow (Spark 4 ANSI mode throws on overflow).

Reference anchor: FiLiPo keeps no table-side index at all — every run
re-reads the KB (AlignmentProcessor.java:72-95); the sketch is the
piece of durable state that makes its "does the KB know this subject?"
question answerable without a scan.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from filipo_spark.schema import KEY_COLUMNS

DEFAULT_BITS = 1 << 23  # 1 MiB file, ~1M keys at <2% FP with k=5
DEFAULT_K = 5


def key_hashes(conv_id: Column, turn_idx: Column) -> tuple[Column, Column]:
    """The two independent 64-bit key hashes (double hashing base).
    Types must match the physical table (string, int) — the callers
    cast before hashing so wire-typed samples hash identically."""
    return (
        F.xxhash64(conv_id, turn_idx),
        F.xxhash64(turn_idx, conv_id),  # reversed arg order = independent mix
    )


class KeyBloom:
    """Fixed-size bloom filter over (conv_id, turn_idx) keys.

    The bit array lives in a numpy uint64 vector; (de)serialization is
    the raw little-endian byte dump (``save``/``load``).
    """

    def __init__(self, bits: int = DEFAULT_BITS, k: int = DEFAULT_K,
                 words: np.ndarray | None = None):
        if bits % 64:
            raise ValueError("bits must be a multiple of 64")
        self.bits = bits
        self.k = k
        self.words = (
            words if words is not None else np.zeros(bits // 64, dtype=np.uint64)
        )

    # --- Spark-side position arithmetic --------------------------------
    def positions(self, conv_id: Column, turn_idx: Column) -> Column:
        """array<long> of the k bit positions for one key (Spark-side)."""
        h1, h2 = key_hashes(conv_id, turn_idx)
        a = F.pmod(h1, F.lit(self.bits))
        b = F.pmod(h2, F.lit(self.bits))
        return F.array(*[F.pmod(a + F.lit(i) * b, F.lit(self.bits)) for i in range(self.k)])

    # --- build ----------------------------------------------------------
    def add_df(self, keys: DataFrame) -> "KeyBloom":
        """Fold a DataFrame of physical-typed keys (``conv_id string,
        turn_idx int``) into the filter.  One Spark job: explode the k
        positions, OR per 64-bit word, collect ≤ bits/64 (word, mask)
        rows — the collected set is bounded by the filter size, never by
        the input row count."""
        pos = F.explode(
            self.positions(F.col(KEY_COLUMNS[0]), F.col(KEY_COLUMNS[1]))
        ).alias("p")
        rows = (
            keys.select(pos)
            .select(
                (F.col("p") / 64).cast("long").alias("w"),
                # pyspark's shiftleft() insists on a literal shift; the
                # SQL form takes a column
                F.expr("shiftleft(1L, cast(p % 64 as int))").alias("m"),
            )
            .groupBy("w")
            .agg(F.bit_or("m").alias("mask"))
            .collect()
        )
        for r in rows:
            # Python long → uint64 via masking (Spark longs are signed)
            self.words[int(r["w"])] |= np.uint64(int(r["mask"]) & 0xFFFFFFFFFFFFFFFF)
        return self

    def union(self, other: "KeyBloom") -> "KeyBloom":
        if (self.bits, self.k) != (other.bits, other.k):
            raise ValueError("bloom shape mismatch — filters are not unionable")
        self.words |= other.words
        return self

    # --- probe ----------------------------------------------------------
    def contains_positions(self, positions: list[int] | None) -> bool:
        """Driver-side membership test for one key's Spark-computed
        positions; ``None`` (a null key component) is never a member."""
        if positions is None:
            return False
        for p in positions:
            if not (self.words[p >> 6] >> np.uint64(p & 63)) & np.uint64(1):
                return False
        return True

    @property
    def saturation(self) -> float:
        """Fraction of bits set — past ~0.5 the FP rate degrades and the
        filter should be resized/rebuilt (surfaced for operability)."""
        return float(np.unpackbits(self.words.view(np.uint8)).sum()) / self.bits

    # --- persistence ------------------------------------------------------
    def save(self, path: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(self.words.astype("<u8").tobytes())
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    @classmethod
    def load(cls, path: str, k: int = DEFAULT_K) -> "KeyBloom":
        words = np.frombuffer(open(path, "rb").read(), dtype="<u8").copy()
        return cls(bits=len(words) * 64, k=k, words=words)
