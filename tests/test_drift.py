"""Drift detection + auto-realign: the self-healing loop (VERDICT r2 #1).

The mapper stops being a manual offline tool here: a replay/stream whose
wire shape flips mid-run must (a) detect the drift from per-batch health
ratios, (b) re-align against the table's current resolved state, and
(c) converge to the same final state as the undrifted stream, with the
re-alignment recorded (offset range + mapping hash) in the manifest.
Reference analog: re-probing on every run, AlignmentProcessor.java:72-95.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from filipo_spark.align import align
from filipo_spark.align.drift import mapping_health, should_realign
from filipo_spark.generators import gen_drifted, gen_echo_changelog, gen_transcripts
from filipo_spark.replay import run_drifted_replay
from filipo_spark.table.icelet import IceletTable

from tests.conftest import df_rows

BASE, SPAN = 1 << 41, 1 << 40


@pytest.fixture(scope="module")
def base(spark):
    target = gen_transcripts(spark, n_conv=40, max_turns=20, seed=77)
    mapping = align(gen_drifted(gen_echo_changelog(target), "rename"), target)
    return target, mapping


def _mutated(target):
    """Deterministic update the drifted stream carries: upper-case text
    on every 5th turn (SQL-portable — the oracle states it directly)."""
    mut = F.pmod(F.col("turn_idx"), F.lit(5)) == 0
    return target.withColumn("text", F.when(mut, F.upper("text")).otherwise(F.col("text")))


def test_mapping_health_ratios(spark, base):
    """unmapped_ratio ≈ 0 on the learned shape, ≈ 1 after a rename/nest
    flip; cast_fail_ratio isolates pure type drift (names stable, a typed
    value stops casting)."""
    target, mapping = base
    echo = gen_echo_changelog(target)

    ok = mapping_health(gen_drifted(echo, "rename"), mapping)
    assert ok["n_sampled"] > 0
    assert ok["unmapped_ratio"] == 0.0 and ok["cast_fail_ratio"] == 0.0
    assert not should_realign(ok)

    flipped = mapping_health(gen_drifted(echo, "nested"), mapping)
    assert flipped["unmapped_ratio"] > 0.9
    assert should_realign(flipped)

    # type drift: same field names, event_time no longer a timestamp —
    # exactly one of the two typed columns (ts, turn_idx) fails per record
    typedrift = gen_drifted(echo, "rename").withColumn(
        "payload",
        F.transform_values(
            "payload",
            lambda k, v: F.when(k == F.lit("event_time"), F.lit("not-a-time")).otherwise(v),
        ),
    )
    td = mapping_health(typedrift, mapping)
    assert td["unmapped_ratio"] == 0.0
    assert td["cast_fail_ratio"] == 0.5
    assert should_realign(td, threshold=0.4) and not should_realign(td, threshold=0.5)

    # empty batch: nothing to judge, never triggers
    empty = mapping_health(gen_drifted(echo, "rename").where("lsn < 0"), mapping)
    assert empty["n_sampled"] == 0 and not should_realign(empty)


def test_combined_break_triggers_support_drop(spark, base):
    """Blind-spot closure (VERDICT r3 #3): merging text_head+text_tail
    into ONE new field breaks ONLY the combined linkage point — names,
    types and keys of every other field survive, so unmapped_ratio stays
    at ~1/6 and cast_fail at 0.  The support-presence term must be the
    one that fires."""
    target, _ = base
    echo = gen_echo_changelog(target)
    mapping = align(gen_drifted(echo, "split"), target)
    assert mapping.as_dict()["text"] == "text_head+text_tail"  # precondition

    healthy = mapping_health(gen_drifted(echo, "split"), mapping)
    assert healthy["support_drop_ratio"] == 0.0 and not should_realign(healthy)

    broken = mapping_health(gen_drifted(echo, "mergedtext"), mapping)
    assert broken["unmapped_ratio"] < 0.5  # old detectors blind ...
    assert broken["cast_fail_ratio"] == 0.0
    assert broken["support_drop_ratio"] == 1.0  # ... the new one is not
    assert should_realign(broken)


def test_combined_break_realigns_mid_replay(spark, base, tmp_path):
    """End-to-end: the combined point breaks mid-replay (split →
    mergedtext) and the replay self-heals — realign fires on the flip
    epoch via support_drop and the final state equals the mutated
    target."""
    target, _ = base
    table = IceletTable.create(str(tmp_path / "tbl"), n_buckets=8)
    table.bootstrap(target)
    e1 = gen_drifted(gen_echo_changelog(target, start_lsn=BASE), "split")
    e2 = gen_drifted(
        gen_echo_changelog(_mutated(target), start_lsn=BASE + SPAN), "mergedtext"
    )
    report = run_drifted_replay(
        spark, table, e1.unionByName(e2),
        epochs=[(BASE - 1, BASE + SPAN - 1), (BASE + SPAN - 1, BASE + 2 * SPAN - 1)],
    )
    assert [r["epoch"] for r in report.realigns] == [0, 1]
    h = report.realigns[1]["health"]
    assert h["support_drop_ratio"] > 0.5 >= h["unmapped_ratio"]
    assert "support_drop=" in report.realigns[1]["event"]
    assert df_rows(table.read_logical(spark)) == df_rows(_mutated(target))


def test_key_miss_ratio_catches_string_key_corruption(spark, base):
    """Value-level corruption of the string KEY column (conv_id arrives
    prefixed): names unchanged, casts fine, presence fine — only the
    opt-in key-membership probe moves."""
    target, mapping = base
    echo = gen_echo_changelog(target)
    tkeys = target.select("conv_id", "turn_idx")

    clean = mapping_health(gen_drifted(echo, "rename"), mapping, target_keys=tkeys)
    assert clean["key_miss_ratio"] == 0.0 and not should_realign(clean)

    corrupted = gen_drifted(
        echo.withColumn("conv_id", F.concat(F.lit("x-"), "conv_id")), "rename"
    )
    bad = mapping_health(corrupted, mapping, target_keys=tkeys)
    assert bad["unmapped_ratio"] == 0.0 and bad["cast_fail_ratio"] == 0.0
    assert bad["support_drop_ratio"] == 0.0
    assert bad["key_miss_ratio"] == 1.0
    assert should_realign(bad)
    # without the opt-in probe the corruption is (documented) invisible
    blind = mapping_health(corrupted, mapping)
    assert "key_miss_ratio" not in blind and not should_realign(blind)


def test_echo_audit_catches_nonkey_value_corruption(spark, base, tmp_path):
    """VERDICT r4 #3 (the last drift blind spot): `text` arrives base64-
    encoded under STABLE field names, types, presence and keys — no
    prior ratio moves; only the opt-in sampled echo audit (batch values
    vs the table's current values, the reference's record-similarity
    gate applied batch-vs-table) fires."""
    target, mapping = base
    table = IceletTable.create(str(tmp_path / "tbl"), n_buckets=8)
    table.bootstrap(target)
    echo = gen_echo_changelog(target)

    clean = mapping_health(gen_drifted(echo, "rename"), mapping, echo_table=table)
    assert clean["echo_mismatch_ratio"] == 0.0 and not should_realign(clean)

    bad = mapping_health(
        gen_drifted(echo, "b64text"), mapping,
        target_keys=target.select("conv_id", "turn_idx"), echo_table=table,
    )
    assert bad["unmapped_ratio"] == 0.0 and bad["cast_fail_ratio"] == 0.0
    assert bad["support_drop_ratio"] == 0.0 and bad["key_miss_ratio"] == 0.0
    assert bad["echo_mismatch_ratio"] == 1.0  # ONLY the new term
    assert should_realign(bad)
    # without the opt-in audit the corruption is (documented) invisible
    blind = mapping_health(gen_drifted(echo, "b64text"), mapping)
    assert "echo_mismatch_ratio" not in blind and not should_realign(blind)


def test_echo_audit_realigns_mid_replay(spark, base, tmp_path):
    """End-to-end: the stream's text values flip to base64 on epoch 1;
    the echo cadence detects it, the realign is fenced with the
    echo_mismatch reason, and the healthy epoch stayed quiet."""
    target, mapping = base
    table = IceletTable.create(str(tmp_path / "tbl"), n_buckets=8)
    table.bootstrap(target)
    e1 = gen_drifted(gen_echo_changelog(target, start_lsn=BASE), "rename")
    e2 = gen_drifted(gen_echo_changelog(target, start_lsn=BASE + SPAN), "b64text")
    report = run_drifted_replay(
        spark, table, e1.unionByName(e2),
        epochs=[(BASE - 1, BASE + SPAN - 1), (BASE + SPAN - 1, BASE + 2 * SPAN - 1)],
        mapping=mapping, echo_check_every=1,
    )
    assert [r["epoch"] for r in report.realigns] == [1]
    assert "echo_mismatch=1.0" in report.realigns[0]["event"]


def test_key_bloom_probe_reads_no_table_data(spark, base, tmp_path, monkeypatch):
    """VERDICT r4 #4: with a per-snapshot key sketch the membership probe
    is one bounded job + a driver-side bit test — proven by making any
    table data read blow up while the probe still answers."""
    target, mapping = base
    table = IceletTable.create(str(tmp_path / "tbl"), n_buckets=8, bloom_bits=1 << 20)
    table.bootstrap(target)
    assert IceletTable.load(table.root).bloom_bits == 1 << 20  # persisted
    bloom = table.key_bloom()
    echo = gen_echo_changelog(target)
    corrupted = gen_drifted(
        echo.withColumn("conv_id", F.concat(F.lit("x-"), "conv_id")), "rename"
    )

    def _boom(*_a, **_k):
        raise AssertionError("key probe must not read table data files")

    monkeypatch.setattr(IceletTable, "read_raw", _boom)
    clean = mapping_health(gen_drifted(echo, "rename"), mapping, target_keys=bloom)
    assert clean["key_miss_ratio"] == 0.0 and not should_realign(clean)
    bad = mapping_health(corrupted, mapping, target_keys=bloom)
    assert bad["key_miss_ratio"] == 1.0 and should_realign(bad)


def test_key_probe_sees_delete_only_corruption(spark, base):
    """ADVICE r4: the probe sample was built delete-FREE, so key
    corruption arriving only on deletes went undetected.  Now an
    all-delete purge batch with corrupted keys fires — and a healthy
    purge batch does not (its empty main sample must read as 'no
    evidence', not as support collapse)."""
    target, mapping = base
    tkeys = target.select("conv_id", "turn_idx")
    echo = gen_echo_changelog(target)
    dels = gen_drifted(
        echo.withColumn("conv_id", F.concat(F.lit("x-"), "conv_id")), "rename"
    ).withColumn("op", F.lit("D"))
    h = mapping_health(dels, mapping, target_keys=tkeys)
    assert h["n_sampled"] == 0 and h["n_keys_sampled"] > 0
    assert h["key_miss_ratio"] == 1.0 and should_realign(h)
    assert h["support_drop_ratio"] == 0.0

    ok = mapping_health(
        gen_drifted(echo, "rename").withColumn("op", F.lit("D")),
        mapping, target_keys=tkeys,
    )
    assert ok["key_miss_ratio"] == 0.0 and not should_realign(ok)


def test_bloom_tracks_keys_added_during_replay(spark, base, tmp_path):
    """On a bloom table the key probe defaults to EVERY epoch
    (key_check_every auto-resolves); keys INSERTED by epoch 0 and
    updated by epoch 1 must be members when epoch 1 is probed — the
    sketch is reloaded per check, so this replay's own commits count."""
    target, mapping = base
    table = IceletTable.create(str(tmp_path / "tbl"), n_buckets=8, bloom_bits=1 << 20)
    table.bootstrap(target)
    fresh = target.withColumn("conv_id", F.concat(F.lit("n-"), "conv_id"))
    e1 = gen_drifted(gen_echo_changelog(fresh, start_lsn=BASE), "rename").withColumn(
        "op", F.lit("I")
    )
    e2 = gen_drifted(gen_echo_changelog(fresh, start_lsn=BASE + SPAN), "rename")
    report = run_drifted_replay(
        spark, table, e1.unionByName(e2),
        epochs=[(BASE - 1, BASE + SPAN - 1), (BASE + SPAN - 1, BASE + 2 * SPAN - 1)],
        mapping=mapping,
    )
    assert report.realigns == [] and report.epochs_applied == 2


def test_drifted_replay_auto_realigns_and_matches_undrifted(spark, base, tmp_path):
    """Mid-replay shape flip (rename → nested), with an EMPTY epoch in
    between: epoch 0 aligns from scratch (init), epoch 1 keeps the
    mapping (empty batch), epoch 2 detects ~100% unmapped fields,
    re-aligns against the table's current state, and the final table
    equals the mutated target exactly — with both alignments fenced in
    the commit manifest."""
    target, _ = base
    table = IceletTable.create(str(tmp_path / "tbl"), n_buckets=8)
    table.bootstrap(target)

    e1 = gen_drifted(gen_echo_changelog(target, start_lsn=BASE), "rename")
    e2 = gen_drifted(
        gen_echo_changelog(_mutated(target), start_lsn=BASE + 2 * SPAN), "nested"
    )
    epochs = [
        (BASE - 1, BASE + SPAN - 1),
        (BASE + SPAN - 1, BASE + 2 * SPAN - 1),  # gap: no events
        (BASE + 2 * SPAN - 1, BASE + 3 * SPAN - 1),
    ]
    report = run_drifted_replay(
        spark, table, e1.unionByName(e2), epochs=epochs, mapping=None
    )
    assert report.epochs_applied == 3
    assert [r["epoch"] for r in report.realigns] == [0, 2]
    assert "reason=init" in report.realigns[0]["event"]
    assert report.realigns[2 - 1]["health"]["unmapped_ratio"] > 0.9

    got = table.read_logical(spark)
    assert df_rows(got) == df_rows(_mutated(target))

    # manifest lineage: the realign events live on their exact epochs
    evo_by_epoch = {
        m["epoch"]: m["evolution_events"]
        for m in table.manifest()
        if m.get("kind") == "append"
    }
    assert any(e.startswith("realign:epoch=0") for e in evo_by_epoch[0])
    assert evo_by_epoch[1] == []
    assert any(
        e.startswith("realign:epoch=2") and "unmapped=" in e and "mapping=" in e
        for e in evo_by_epoch[2]
    )
    # resumability: a second run over the same ranges is fully fenced
    again = run_drifted_replay(
        spark, table, e1.unionByName(e2), epochs=epochs, mapping=report.mapping
    )
    assert again.epochs_skipped == 3 and again.epochs_applied == 0
    assert df_rows(table.read_logical(spark)) == df_rows(_mutated(target))


def test_bootstrap_irregular_epoch_ranges(spark, base, tmp_path):
    """Irregular explicit offset ranges (the Kafka-style shape that takes
    the general per-row array-scan emptiness path, not the O(1) uniform
    arithmetic): an empty lead-in epoch plus two uneven data epochs must
    bootstrap on the FIRST non-empty epoch and converge exactly."""
    target, _ = base
    table = IceletTable.create(str(tmp_path / "tbl"), n_buckets=8)
    table.bootstrap(target)
    e1 = gen_drifted(gen_echo_changelog(target, start_lsn=BASE), "rename")
    # uneven widths: a tiny empty lead-in, then a short and a long range
    epochs = [
        (BASE - SPAN // 8 - 1, BASE - 1),           # empty lead-in
        (BASE - 1, BASE + SPAN // 3),               # short
        (BASE + SPAN // 3, BASE + 2 * SPAN - 1),    # long
    ]
    report = run_drifted_replay(spark, table, e1, epochs=epochs, mapping=None)
    assert report.epochs_applied == 3
    assert [r["epoch"] for r in report.realigns] == [1]
    assert "reason=init" in report.realigns[0]["event"]
    assert df_rows(table.read_logical(spark)) == df_rows(target)


def test_stream_tail_auto_realigns(spark, base, tmp_path):
    """Streaming twin: the tail starts with a learned mapping, the wire
    shape flips between two availableNow drains of the same checkpoint,
    and the foreachBatch health check hot-swaps the mapping in-stream."""
    from filipo_spark.streaming.tail import tail_changelog

    target, mapping = base
    src = str(tmp_path / "wal")
    gen_drifted(gen_echo_changelog(target, start_lsn=BASE), "rename").write.parquet(src)

    table = IceletTable.create(str(tmp_path / "tbl"), n_buckets=4)
    table.bootstrap(target)
    ckpt = str(tmp_path / "ckpt")
    s1 = tail_changelog(
        spark, src, table, ckpt, mapping=mapping, auto_realign=True
    )
    assert s1["realigns"] == 0
    assert df_rows(table.read_logical(spark)) == df_rows(target)

    gen_drifted(
        gen_echo_changelog(_mutated(target), start_lsn=BASE + SPAN), "nested"
    ).write.mode("append").parquet(src)
    s2 = tail_changelog(
        spark, src, table, ckpt, mapping=s1["mapping"], auto_realign=True
    )
    assert s2["realigns"] == 1
    assert df_rows(table.read_logical(spark)) == df_rows(_mutated(target))
    evo = [e for m in table.manifest() for e in m["evolution_events"]]
    assert any(e.startswith("realign:batch=") for e in evo)


def test_stream_tail_bootstraps_mapping_from_first_batch(spark, base, tmp_path):
    """VERDICT r3 #5: a pure-streaming deployment needs no manual batch
    alignment — with auto_realign and a declared wire shape but NO seed
    mapping, the tail learns the function store from its first non-empty
    micro-batch (reason=init fence) and applies the stream."""
    from filipo_spark.streaming.tail import tail_changelog

    target, _ = base
    src = str(tmp_path / "wal")
    gen_drifted(
        gen_echo_changelog(_mutated(target), start_lsn=BASE), "rename"
    ).write.parquet(src)
    table = IceletTable.create(str(tmp_path / "tbl"), n_buckets=4)
    table.bootstrap(target)
    s = tail_changelog(
        spark, src, table, str(tmp_path / "ckpt"),
        mapping=None, auto_realign=True, source_format="drifted",
    )
    assert s["realigns"] == 1 and s["mapping"] is not None
    assert df_rows(table.read_logical(spark)) == df_rows(_mutated(target))
    evo = [e for m in table.manifest() for e in m["evolution_events"]]
    assert any(e.startswith("realign:batch=") and "reason=init" in e for e in evo)

    # the former silent no-op (ADVICE r3) is now a loud contract error
    with pytest.raises(ValueError, match="source_format"):
        tail_changelog(
            spark, src, table, str(tmp_path / "ckpt2"),
            mapping=None, auto_realign=True,
        )
    # and a drifted wire without any healing path is refused too
    with pytest.raises(ValueError, match="auto_realign"):
        tail_changelog(
            spark, src, table, str(tmp_path / "ckpt3"),
            mapping=None, source_format="drifted",
        )


def test_empty_source_with_explicit_ranges_is_not_fenced(spark, base, tmp_path):
    """An entirely empty source with explicit Kafka-style ranges must
    return WITHOUT committing the ranges as empty epochs: the data may
    not have landed yet, and a fenced range would be skipped forever on
    the later replay (the r6 explicit-epochs bounds skip must keep the
    old empty-source early-return)."""
    target, mapping = base
    table = IceletTable.create(str(tmp_path / "tbl"), n_buckets=4)
    table.bootstrap(target)
    echo = gen_echo_changelog(target, start_lsn=BASE)
    epochs = [(BASE - 1, BASE + 2 * SPAN - 1)]
    early = run_drifted_replay(
        spark, table, gen_drifted(echo, "rename").where("lsn < 0"),
        epochs=epochs, mapping=mapping,
    )
    assert early.epochs_applied == 0
    assert table.committed_ranges() == set()
    # the data lands; the same ranges must now actually apply
    late = run_drifted_replay(
        spark, table, gen_drifted(echo, "rename"), epochs=epochs, mapping=mapping
    )
    assert late.epochs_applied == 1
    assert df_rows(table.read_logical(spark)) == df_rows(target)


def test_explicit_epochs_report_rows_committed(spark, base, tmp_path):
    """Explicit epoch ranges without ``bounds`` never scan the source
    extent: the report says the event count is unknown (not 0) and
    counts the rows its commits wrote, exactly the manifest's n_rows."""
    target, mapping = base
    table = IceletTable.create(str(tmp_path / "tbl"), n_buckets=8)
    table.bootstrap(target)
    echo = gen_drifted(gen_echo_changelog(target, start_lsn=BASE), "rename")
    report = run_drifted_replay(
        spark, table, echo, epochs=[(BASE - 1, BASE + SPAN - 1)], mapping=mapping
    )
    assert report.epochs_applied == 1 and report.realigns == []
    assert report.events_seen is None
    appends = [m for m in table.manifest() if m["kind"] == "append"]
    assert report.rows_committed == sum(m["n_rows"] for m in appends) == target.count()


def test_drifted_replay_and_tail_write_the_same_manifest(spark, base, tmp_path):
    """The drivers share one epoch step: the same drifted input (one
    file per offset range, the wire shape flipping in the second) fed
    through ``run_drifted_replay`` with explicit epochs and through
    ``tail_changelog`` one file per micro-batch, onto equal bootstraps,
    writes the same manifest — offsets, buckets, rows, files and
    evolution events up to the ``epoch=``/``batch=`` label — and the
    same final state."""
    from filipo_spark.streaming.tail import tail_changelog

    target, _ = base
    src = str(tmp_path / "wal")
    ranges = []
    for part in (
        gen_drifted(gen_echo_changelog(target, start_lsn=BASE), "rename"),
        gen_drifted(
            gen_echo_changelog(_mutated(target), start_lsn=BASE + SPAN), "nested"
        ),
    ):
        part.coalesce(1).write.mode("append").parquet(src)
        lo, hi = part.agg(F.min("lsn"), F.max("lsn")).collect()[0]
        ranges.append((lo - 1, hi))
    replayed, tailed = (
        IceletTable.create(str(tmp_path / name), n_buckets=4) for name in ("r", "t")
    )
    for t in (replayed, tailed):
        t.bootstrap(target)
    report = run_drifted_replay(spark, replayed, spark.read.parquet(src), epochs=ranges)
    stats = tail_changelog(
        spark, src, tailed, str(tmp_path / "ckpt"), max_files_per_trigger=1,
        auto_realign=True, source_format="drifted",
    )
    assert len(report.realigns) == stats["realigns"] == 2

    def lineage(t):
        keys = ("kind", "epoch", "offset_lo", "offset_hi", "buckets", "n_rows", "n_files")
        return [
            {k: m[k] for k in keys} | {"evolution_events": [
                e.replace("realign:batch=", "realign:epoch=", 1)
                for e in m["evolution_events"]
            ]}
            for m in t.manifest()
        ]

    assert lineage(replayed) == lineage(tailed)
    assert [m["offset_lo"] for m in lineage(tailed)[1:]] == [lo for lo, _ in ranges]
    want = df_rows(_mutated(target))
    assert df_rows(replayed.read_logical(spark)) == want
    assert df_rows(tailed.read_logical(spark)) == want


def test_replay_job_cli_plain_and_auto_realign(spark, base, tmp_path, capsys):
    """jobs/replay.py main(): a plain change log and, with
    ``--auto-realign``, a drifted one whose mapping is learned on the
    first epoch; both onto a ``--bootstrap`` seed, both print the JSON
    summary."""
    import json

    from filipo_spark.jobs import replay as replay_job

    target, _ = base
    seed = str(tmp_path / "seed")
    target.write.parquet(seed)
    echo = gen_echo_changelog(_mutated(target), start_lsn=BASE)
    for name, source, extra in (
        ("plain", echo, []),
        ("drifted", gen_drifted(echo, "rename"), ["--auto-realign"]),
    ):
        src, tbl = str(tmp_path / f"{name}-src"), str(tmp_path / f"{name}-tbl")
        source.write.parquet(src)
        replay_job.main([
            "--source", src, "--table", tbl, "--n-buckets", "4",
            "--batch-size", str(2 * SPAN), "--bootstrap", seed, *extra,
        ])
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["epochs_applied"] == 1 and out["epochs_skipped"] == 0
        assert out["events_seen"] == echo.count() > 0
        assert df_rows(IceletTable.load(tbl).read_logical(spark)) == df_rows(
            _mutated(target)
        )
        if extra:
            [realign] = out["realigns"]
            assert realign["epoch"] == 0 and "reason=init" in realign["event"]
        else:
            assert "realigns" not in out
