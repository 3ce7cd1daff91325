"""Icelet table + exactly-once replay tests (FIXTURES.md §5 scenarios)."""

from __future__ import annotations

import json
import pathlib

import pytest

from filipo_spark.generators import gen_changelog, gen_transcripts
from filipo_spark.metrics import replay_metrics
from filipo_spark.operators.merge import apply_batch, canonical, logical, to_physical
from filipo_spark.replay import run_replay
from filipo_spark.schema import CHANGE_SCHEMA
from filipo_spark.table.icelet import IceletTable

from tests.conftest import df_rows


@pytest.fixture()
def log(spark):
    return gen_changelog(spark, n_conv=20, n_events=2500, seed=13)


def expected_state(spark, log):
    empty = to_physical(spark.createDataFrame([], gen_transcripts(spark, 1).schema))
    return df_rows(canonical(logical(apply_batch(empty, log))))


def test_replay_one_shot_vs_batched(spark, tmp_path, log):
    want = expected_state(spark, log)
    t1 = IceletTable.create(str(tmp_path / "t1"), n_buckets=8)
    r1 = run_replay(spark, t1, log, batch_size=10**9)
    assert r1.epochs_applied == 1
    assert df_rows(canonical(t1.read_logical(spark))) == want

    t2 = IceletTable.create(str(tmp_path / "t2"), n_buckets=8)
    r2 = run_replay(spark, t2, log, batch_size=500)
    assert r2.epochs_applied >= 5
    assert df_rows(canonical(t2.read_logical(spark))) == want


def test_replay_duplicate_run_skips_all(spark, tmp_path, log):
    t = IceletTable.create(str(tmp_path / "t"), n_buckets=8)
    run_replay(spark, t, log, batch_size=800)
    before = df_rows(canonical(t.read_logical(spark)))
    snap_before = t.current_snapshot_id()
    r = run_replay(spark, t, log, batch_size=800)  # full duplicate replay
    assert r.epochs_applied == 0 and r.epochs_skipped > 0
    assert t.current_snapshot_id() == snap_before
    assert df_rows(canonical(t.read_logical(spark))) == before


def _unreferenced(t):
    """Parquet files under the table's data dir that no snapshot on the
    current lineage references (relative paths, as vacuum() reports)."""
    live = set()
    for sid in t.snapshot_ids():
        with open(t._snap_path(sid)) as f:
            live |= {x for fl in json.load(f)["files"].values() for x in fl}
    data = pathlib.Path(t.root, "data")
    return {str(p.relative_to(t.root)) for p in data.rglob("*.parquet")} - live


@pytest.mark.parametrize("step", ["_write_snapshot", "_swap_current", "_append_manifest"])
def test_crash_inside_commit_then_resume(spark, tmp_path, log, monkeypatch, step):
    """A crash at each step of the real ``_commit`` of epoch 2:
    ``_write_snapshot`` (data files placed, no snapshot),
    ``_swap_current`` (snapshot written, pointer not swapped) and
    ``_append_manifest`` (pointer swapped, range unfenced).  The
    manifest never fences an epoch readers cannot see, the table stays
    readable, resume skips exactly the fenced epochs and converges to
    apply_batch's fold, and vacuum() removes exactly the orphaned data
    files.  (Fence before pointer would record the range as committed
    while readers stay on the parent snapshot, silently dropping the
    epoch and letting vacuum() delete its files.)"""
    want = expected_state(spark, log)
    t = IceletTable.create(str(tmp_path / "t"), n_buckets=8)
    run_replay(spark, t, log, batch_size=600, max_epochs=2)
    state_before = df_rows(canonical(t.read_logical(spark)))

    def boom(*_a, **_k):
        raise RuntimeError(f"simulated crash in {step}")

    with monkeypatch.context() as mp:
        mp.setattr(IceletTable, step, boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            run_replay(spark, t, log, batch_size=600)
    swapped = step == "_append_manifest"
    # epochs 0-1 fenced, and every fenced epoch is on the readers' lineage
    assert len(t.manifest()) == 2
    assert {m["snapshot_id"] for m in t.manifest()} <= set(t.snapshot_ids())
    # readable mid-crash: the epoch-2 state once the pointer swapped,
    # else the old snapshot untouched, with epoch 2's files orphaned
    assert t.current_snapshot()["epoch"] == (2 if swapped else 1)
    mid = df_rows(canonical(t.read_logical(spark)))
    assert mid and (swapped or mid == state_before)
    orphans = _unreferenced(t)
    assert bool(orphans) != swapped
    # resume: epochs 0-1 skip, epoch 2 (re-)applies, the rest apply
    r = run_replay(spark, t, log, batch_size=600)
    assert r.epochs_skipped == 2 and r.epochs_applied >= 1
    assert df_rows(canonical(t.read_logical(spark))) == want
    # the orphans are invisible and vacuum removes exactly them
    assert set(t.vacuum()) == orphans
    assert df_rows(canonical(t.read_logical(spark))) == want


def test_bootstrap_then_incremental(spark, tmp_path):
    target = gen_transcripts(spark, n_conv=12, max_turns=15, seed=21)
    log = gen_changelog(spark, n_conv=12, n_events=900, seed=22, max_turns=15)
    t = IceletTable.create(str(tmp_path / "t"), n_buckets=4)
    t.bootstrap(target)
    assert df_rows(canonical(t.read_logical(spark))) == df_rows(canonical(target))
    run_replay(spark, t, log, batch_size=300)
    want = df_rows(canonical(logical(apply_batch(to_physical(target), log))))
    assert df_rows(canonical(t.read_logical(spark))) == want


def test_mor_equals_mor_after_full_compaction(spark, tmp_path, log):
    """A full compaction folds the accumulated delta files to one file
    per bucket, marks the snapshot ``delta_free`` and keeps the logical
    state; a replay after it is still fenced."""
    want = expected_state(spark, log)
    mor = IceletTable.create(str(tmp_path / "mor"), n_buckets=4)
    run_replay(spark, mor, log, batch_size=500)
    assert df_rows(canonical(mor.read_logical(spark))) == want
    files_before = sum(len(v) for v in mor.current_snapshot()["files"].values())
    assert files_before > 4
    res = mor.compact(spark, min_files=2)
    assert res is not None and res.n_rows > 0
    snap = mor.current_snapshot()
    assert snap["delta_free"] is True
    assert sorted(len(v) for v in snap["files"].values()) == [1, 1, 1, 1]
    assert df_rows(canonical(mor.read_logical(spark))) == want
    r = run_replay(spark, mor, log, batch_size=500)
    assert r.epochs_applied == 0


def test_load_refuses_cow_table(tmp_path):
    """Copy-on-write is gone: loading a table whose snapshot says
    ``mode: cow`` fails, naming the mode."""
    t = IceletTable.create(str(tmp_path / "t"), n_buckets=4)
    assert t.current_snapshot()["mode"] == "mor"
    assert IceletTable.load(t.root).n_buckets == 4
    path = t._snap_path(t.current_snapshot_id())
    with open(path) as f:
        snap = json.load(f)
    with open(path, "w") as f:
        json.dump(dict(snap, mode="cow"), f)
    with pytest.raises(ValueError, match="'cow'"):
        IceletTable.load(t.root)


def test_snapshot_time_travel(spark, tmp_path, log):
    """Snapshots are immutable file lists: reading an older snapshot id
    reproduces the state as of that commit, byte-identical, even after
    later epochs land (vacuum keeps lineage-referenced files)."""
    t = IceletTable.create(str(tmp_path / "t"), n_buckets=8)
    run_replay(spark, t, log, batch_size=800, max_epochs=2)
    sid_mid = t.current_snapshot_id()
    state_mid = df_rows(canonical(logical(t.read(spark))))
    run_replay(spark, t, log, batch_size=800)  # rest of the log
    assert t.current_snapshot_id() != sid_mid
    assert sid_mid in t.snapshot_ids()
    t.vacuum()
    assert df_rows(canonical(logical(t.read(spark, snapshot_id=sid_mid)))) == state_mid
    assert df_rows(canonical(t.read_logical(spark))) == expected_state(spark, log)


def test_manifest_lineage(spark, tmp_path, log):
    t = IceletTable.create(str(tmp_path / "t"), n_buckets=8)
    run_replay(spark, t, log, batch_size=1000)
    m = t.manifest()
    assert all(m[i]["offset_hi"] == m[i + 1]["offset_lo"] for i in range(len(m) - 1))
    assert all(mm["snapshot_id"] for mm in m)
    assert all(mm["n_rows"] > 0 for mm in m)
    # bucket pruning recorded: every commit rewrote only its touched buckets
    assert all(0 < len(mm["buckets"]) <= 8 for mm in m)


def test_bucket_pruning_small_batch(spark, tmp_path):
    """A single-conversation batch rewrites exactly one bucket."""
    from filipo_spark.schema import CHANGE_SCHEMA
    import datetime as dt

    t = IceletTable.create(str(tmp_path / "t"), n_buckets=16)
    big = gen_changelog(spark, n_conv=50, n_events=2000, seed=31)
    run_replay(spark, t, big, batch_size=10**9)
    one = spark.createDataFrame(
        [(10**7, "U", "conv-00000003", 1, "user", "edited", None,
          dt.datetime(2030, 1, 1))],
        CHANGE_SCHEMA,
    )
    res = t.apply_epoch(spark, one, epoch=99, offset_lo=10**7 - 1, offset_hi=10**7)
    assert len(res.buckets) == 1
    row = (
        t.read_logical(spark)
        .where("conv_id='conv-00000003' and turn_idx=1")
        .collect()
    )
    assert row and row[0]["text"] == "edited"


def test_delta_free_read_skips_resolve(spark, tmp_path, log):
    """A snapshot provably holding one version per key (bootstrap, first
    append into empty, full compaction) is read WITHOUT the LWW resolve
    fold — no Exchange in the read plan — while any MoR append onto
    existing data restores the fold; logical state identical throughout."""
    target = gen_transcripts(spark, n_conv=12, max_turns=8, seed=7)
    t = IceletTable.create(str(tmp_path / "t"), n_buckets=4)
    t.bootstrap(target)
    assert t.current_snapshot()["delta_free"] is True
    plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Aggregate" not in plan, plan
    assert df_rows(canonical(t.read_logical(spark))) == df_rows(canonical(target))

    # an append introduces deltas: flag drops, fold returns, state right
    run_replay(spark, t, log, batch_size=10**9)
    assert t.current_snapshot()["delta_free"] is False
    plan2 = t.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" in plan2, plan2
    want = df_rows(canonical(logical(apply_batch(to_physical(target), log))))
    assert df_rows(canonical(t.read_logical(spark))) == want

    # full compaction rewrites every non-empty bucket: flag restored
    res = t.compact(spark, min_files=2)
    assert res is not None
    assert t.current_snapshot()["delta_free"] is True
    plan3 = t.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan3, plan3
    assert df_rows(canonical(t.read_logical(spark))) == want


def test_first_append_into_empty_is_delta_free(spark, tmp_path, log):
    t = IceletTable.create(str(tmp_path / "t"), n_buckets=4)
    run_replay(spark, t, log, batch_size=10**9)  # one epoch from empty
    assert t.current_snapshot()["delta_free"] is True
    assert df_rows(canonical(t.read_logical(spark))) == expected_state(spark, log)


def _added_files(t, sid):
    """Data files snapshot ``sid`` references that its parent does not."""
    with open(t._snap_path(sid)) as f:
        snap = json.load(f)
    old = set()
    if snap["parent"]:
        with open(t._snap_path(snap["parent"])) as f:
            old = {x for fl in json.load(f)["files"].values() for x in fl}
    return {b: [x for x in fl if x not in old] for b, fl in snap["files"].items()}


def test_mor_epoch_writes_one_file_per_touched_bucket(spark, tmp_path, log):
    """On a session with no more task slots than buckets, a merge-on-read
    epoch writes exactly one parquet file into each bucket it touches,
    and the table resolves to apply_batch's fold."""
    n = max(16, spark.sparkContext.defaultParallelism)
    target = gen_transcripts(spark, n_conv=20, max_turns=10, seed=5)
    t = IceletTable.create(str(tmp_path / "t"), n_buckets=n)
    t.bootstrap(target)
    res = t.apply_epoch(spark, log, epoch=0, offset_lo=-1, offset_hi=10**9)
    assert len(res.buckets) > 1
    added = _added_files(t, res.snapshot_id)
    for b in res.buckets:
        assert len(added[str(b)]) == 1, (b, added[str(b)])
        snap_dir = tmp_path / "t" / "data" / f"b={b}" / f"snap-{res.snapshot_id}"
        assert len(list(snap_dir.glob("*.parquet"))) == 1
    assert res.n_files == len(res.buckets)
    want = df_rows(canonical(logical(apply_batch(to_physical(target), log))))
    assert df_rows(canonical(t.read_logical(spark))) == want


def test_manifest_n_files_is_snapshot_minus_parent(spark, tmp_path, log):
    """Every commit's manifest row records the data files it added —
    bootstrap, appends, compaction and an empty epoch — and
    replay_metrics reports files written per append."""
    t = IceletTable.create(str(tmp_path / "mor"), n_buckets=4)
    t.bootstrap(gen_transcripts(spark, n_conv=8, max_turns=6, seed=3))
    run_replay(spark, t, log, batch_size=600)
    t.compact(spark, min_files=2)
    t.apply_epoch(spark, spark.createDataFrame([], CHANGE_SCHEMA), 99, 10**9, 10**9 + 1)
    rows = t.manifest()
    assert all("n_files" in m for m in rows)
    sids = [m["snapshot_id"] for m in rows]
    for i, m in enumerate(rows):
        # an empty epoch re-fences the current snapshot: no new files
        new_snap = sids.index(m["snapshot_id"]) == i
        want = sum(map(len, _added_files(t, m["snapshot_id"]).values())) if new_snap else 0
        assert m["n_files"] == want, m
    appends = [m["n_files"] for m in rows if m["kind"] == "append"]
    met = replay_metrics(t)
    assert met["files_per_append"] == round(sum(appends) / len(appends), 2)
    assert met["files_per_append_max"] == max(appends) > 0
