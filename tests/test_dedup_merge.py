"""Core slice tests: generators, LWW dedup, MERGE apply vs a DuckDB oracle.

Oracle semantics (FIXTURES.md §6): final state per key = payload of event
with max (ts, lsn); key absent if the winning event is a delete.  Initial
target rows participate as pseudo-events with lsn=-1 and their own ts.
"""

from __future__ import annotations

import datetime as dt

from filipo_spark.generators import gen_changelog, gen_transcripts
from filipo_spark.operators.dedup import lww_dedup, lww_dedup_salted
from filipo_spark.operators.merge import (
    apply_batch,
    canonical,
    logical,
    to_physical,
    write_fanout,
)

from tests.conftest import df_rows


ORACLE_SQL = """
WITH ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY ts DESC, lsn DESC) AS rn
  FROM changes
)
SELECT conv_id, turn_idx, role, text, tool, ts
FROM ranked WHERE rn = 1 AND op <> 'D'
"""


def oracle_final_state(ddb, changes_pdf, initial_pdf=None):
    """DuckDB-computed final state after replaying changes over initial."""
    con = ddb
    con.register("changes_raw", changes_pdf)
    if initial_pdf is None:
        con.execute("CREATE OR REPLACE TEMP VIEW changes AS SELECT * FROM changes_raw")
    else:
        con.register("initial", initial_pdf)
        con.execute(
            """CREATE OR REPLACE TEMP VIEW changes AS
               SELECT CAST(-1 AS BIGINT) lsn, 'I' op, conv_id, turn_idx,
                      role, text, tool, ts FROM initial
               UNION ALL SELECT * FROM changes_raw"""
        )
    return sorted(tuple(r) for r in con.sql(ORACLE_SQL).fetchall())


def empty_phys(spark):
    return to_physical(spark.createDataFrame([], gen_transcripts(spark, 1).schema))


def test_generators_deterministic(spark):
    a = gen_changelog(spark, n_conv=20, n_events=500, seed=7)
    b = gen_changelog(spark, n_conv=20, n_events=500, seed=7)
    assert df_rows(a) == df_rows(b)
    t = gen_transcripts(spark, n_conv=10, seed=7)
    assert t.count() > 0
    assert t.select("conv_id", "turn_idx").distinct().count() == t.count()


def test_lww_dedup_matches_oracle(spark, ddb):
    ch = gen_changelog(spark, n_conv=30, n_events=2000, seed=42)
    got = lww_dedup(ch)
    assert got.select("conv_id", "turn_idx").distinct().count() == got.count()
    ddb.register("changes", ch.toPandas())
    want = ddb.sql(
        """SELECT conv_id, turn_idx, lsn FROM (
             SELECT conv_id, turn_idx, lsn, row_number() OVER (
               PARTITION BY conv_id, turn_idx ORDER BY ts DESC, lsn DESC) rn
             FROM changes) WHERE rn=1"""
    ).fetchall()
    assert df_rows(got.select("conv_id", "turn_idx", "lsn")) == sorted(tuple(r) for r in want)


def test_salted_dedup_invariant(spark):
    ch = gen_changelog(spark, n_conv=10, n_events=1500, seed=1, hot_share=0.6, hot_frac=0.1)
    base = df_rows(lww_dedup(ch))
    for n_salts in (1, 4, 16):
        assert df_rows(lww_dedup_salted(ch, n_salts=n_salts)) == base


def test_apply_batch_from_empty_matches_oracle(spark, ddb):
    ch = gen_changelog(spark, n_conv=25, n_events=3000, seed=11)
    got = canonical(logical(apply_batch(empty_phys(spark), ch)))
    want = oracle_final_state(ddb, ch.toPandas())
    assert df_rows(got) == want


def test_apply_batch_over_initial_target(spark, ddb):
    target = gen_transcripts(spark, n_conv=15, max_turns=20, seed=3)
    ch = gen_changelog(spark, n_conv=15, n_events=800, seed=4, max_turns=20)
    got = canonical(logical(apply_batch(to_physical(target), ch)))
    want = oracle_final_state(ddb, ch.toPandas(), target.toPandas())
    assert df_rows(got) == want


def test_batch_split_invariance(spark):
    """Final state independent of micro-batch boundaries (idempotent MERGE)."""
    ch = gen_changelog(spark, n_conv=12, n_events=1200, seed=5)
    whole = df_rows(canonical(logical(apply_batch(empty_phys(spark), ch))))
    state = empty_phys(spark)
    for lo, hi in [(0, 400), (400, 900), (900, 10**9)]:
        batch = ch.where((ch.lsn >= lo) & (ch.lsn < hi))
        state = apply_batch(state, batch)
        state = spark.createDataFrame(state.collect(), state.schema)  # materialize
    assert df_rows(canonical(logical(state))) == whole


def test_batch_split_invariance_shuffled_boundaries(spark):
    """Even adversarial boundaries (by hash, not lsn range) give same state."""
    from pyspark.sql import functions as F

    ch = gen_changelog(spark, n_conv=12, n_events=1000, seed=9)
    whole = df_rows(canonical(logical(apply_batch(empty_phys(spark), ch))))
    state = empty_phys(spark)
    for k in range(3):
        batch = ch.where(F.pmod(F.xxhash64("lsn"), F.lit(3)) == k)
        state = apply_batch(state, batch)
        state = spark.createDataFrame(state.collect(), state.schema)
    assert df_rows(canonical(logical(state))) == whole


def test_duplicate_batch_replay_is_noop(spark):
    ch = gen_changelog(spark, n_conv=12, n_events=1000, seed=6)
    once = apply_batch(empty_phys(spark), ch)
    once_m = spark.createDataFrame(once.collect(), once.schema)
    twice = apply_batch(once_m, ch)  # replay the same batch again
    assert df_rows(canonical(logical(twice))) == df_rows(canonical(logical(once_m)))


def test_delete_then_reinsert_and_tombstone(spark):
    from filipo_spark.schema import CHANGE_SCHEMA

    rows = [
        (1, "I", "c-1", 0, "user", "hello", None, dt.datetime(2024, 1, 1, 0, 0, 1)),
        (2, "D", "c-1", 0, None, None, None, dt.datetime(2024, 1, 1, 0, 0, 2)),
        (3, "I", "c-1", 0, "user", "hello again", None, dt.datetime(2024, 1, 1, 0, 0, 3)),
        (4, "D", "c-1", 1, None, None, None, dt.datetime(2024, 1, 1, 0, 0, 4)),
    ]
    ch = spark.createDataFrame(rows, CHANGE_SCHEMA)
    phys = apply_batch(empty_phys(spark), ch)
    out = df_rows(canonical(logical(phys)))
    assert len(out) == 1 and out[0][3] == "hello again"
    # tombstone for (c-1, 1) retained in physical state
    assert phys.where("_deleted").count() == 1
    # late event older than the tombstone must stay dead
    late = spark.createDataFrame(
        [(0, "U", "c-1", 1, "user", "zombie", None, dt.datetime(2024, 1, 1, 0, 0, 0))],
        CHANGE_SCHEMA,
    )
    phys_m = spark.createDataFrame(phys.collect(), phys.schema)
    after = apply_batch(phys_m, late)
    assert df_rows(canonical(logical(after))) == out


def test_write_fanout_sizes_to_task_slots():
    """(parallelism, n_buckets, salt_factor) → (partitions, salt): never
    more partitions than slots, a salt only when slots outnumber buckets
    and never above the table's salt_factor."""
    cases = {
        (1, 4, 1): (1, 1), (1, 4, 2): (1, 1), (1, 16, 1): (1, 1), (1, 16, 2): (1, 1),
        (3, 4, 1): (3, 1), (3, 4, 2): (3, 1), (3, 16, 1): (3, 1), (3, 16, 2): (3, 1),
        (64, 4, 1): (4, 1), (64, 4, 2): (8, 2), (64, 16, 1): (16, 1), (64, 16, 2): (32, 2),
        # between the regimes: salted, but capped at the slots
        (6, 4, 2): (6, 2), (20, 16, 2): (20, 2), (16, 16, 2): (16, 1),
    }
    for args, want in cases.items():
        assert write_fanout(*args) == want, args
