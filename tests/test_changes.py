"""Incremental change feed over Icelet snapshots (table/changes.py).

The MoR invariant under test: files added between two append snapshots,
folded by the same LWW max, equal the net change of that offset window —
so a consumer can tail the table without rescanning it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from filipo_spark.generators import gen_changelog
from filipo_spark.operators.dedup import lww_dedup
from filipo_spark.replay import run_replay
from filipo_spark.table.changes import changes_between
from filipo_spark.table.icelet import IceletTable

from tests.conftest import df_rows


@pytest.fixture()
def replayed(spark, tmp_path):
    """4-epoch replay; returns (table, log, [append manifest rows])."""
    log = gen_changelog(spark, n_conv=20, n_events=2500, seed=21)
    lo, hi = log.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    t = IceletTable.create(str(tmp_path / "t"), n_buckets=8)
    run_replay(spark, t, log, batch_size=(hi - lo) // 4 + 1)
    appends = [m for m in t.manifest() if m["kind"] == "append"]
    assert len(appends) == 4
    return t, log, appends


def test_feed_equals_window_winners(spark, replayed):
    """Feed(snap1 → snap3) == LWW winners of the lsn window (epochs 2-3),
    deletes included as op='D' tombstone rows."""
    t, log, appends = replayed
    lo_w, hi_w = appends[0]["offset_hi"], appends[2]["offset_hi"]
    feed = changes_between(spark, t, appends[0]["snapshot_id"],
                           appends[2]["snapshot_id"])

    window = log.where((F.col("lsn") > lo_w) & (F.col("lsn") <= hi_w))
    want = lww_dedup(window).select(
        "conv_id", "turn_idx",
        F.when(F.col("op") == "D", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        "lsn", "role", "text", "tool", "ts",
    )
    assert df_rows(feed) == df_rows(want)
    assert feed.where("op = 'D'").count() > 0  # deletes flow through


def test_feed_is_net_update_then_delete(spark, tmp_path):
    """A key upserted in epoch 1 and deleted in epoch 2 nets to ONE 'D'
    row carrying the delete's lsn."""
    rows = [
        (1, "U", "c-1", 0, "user", "v1", None, "2024-01-01 00:00:01"),
        (2, "U", "c-1", 0, "user", "v2", None, "2024-01-01 00:00:02"),
        (3, "D", "c-1", 0, None, None, None, "2024-01-01 00:00:03"),
    ]
    log = spark.createDataFrame(
        rows, "lsn long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    t = IceletTable.create(str(tmp_path / "t"), n_buckets=4)
    run_replay(spark, t, log, batch_size=2)  # epochs: lsn (0,2], (2,3]
    appends = [m for m in t.manifest() if m["kind"] == "append"]
    assert len(appends) == 2
    base = [m["snapshot_id"] for m in appends]
    full = df_rows(changes_between(spark, t, "empty"))
    assert full == [("c-1", 0, "D", 3, None, None, None,
                     full[0][7])]  # net of all three events is the delete
    ep2 = df_rows(changes_between(spark, t, base[0], base[1]))
    assert [r[:4] for r in ep2] == [("c-1", 0, "D", 3)]


def test_feed_empty_window_and_bad_order(spark, replayed):
    t, _log, appends = replayed
    sid = appends[1]["snapshot_id"]
    assert changes_between(spark, t, sid, sid).count() == 0
    with pytest.raises(ValueError, match="newer than"):
        changes_between(spark, t, appends[2]["snapshot_id"],
                        appends[0]["snapshot_id"])
    with pytest.raises(ValueError, match="lineage"):
        changes_between(spark, t, "no-such-snapshot")


def test_feed_cli_summary_and_dump(spark, replayed, tmp_path, capsys):
    """jobs/feed.py: lineage listing without a cursor; summary + parquet
    dump with one.  The dump equals the library-level feed."""
    import json

    from filipo_spark.jobs import feed as feed_job

    t, _log, appends = replayed
    feed_job.main(["--table", t.root])
    lineage = json.loads(capsys.readouterr().out)["lineage"]
    assert [m["snapshot_id"] for m in lineage][1:] == [
        m["snapshot_id"] for m in appends
    ]  # [0] is the 'empty' root

    out = str(tmp_path / "feed")
    feed_job.main([
        "--table", t.root, "--from-snapshot", appends[0]["snapshot_id"],
        "--to-snapshot", appends[2]["snapshot_id"], "--out", out,
    ])
    summary = json.loads(capsys.readouterr().out)
    want = changes_between(spark, t, appends[0]["snapshot_id"],
                           appends[2]["snapshot_id"])
    assert summary["rows"] == want.count()
    assert summary["deletes"] == want.where("op = 'D'").count()
    assert df_rows(spark.read.parquet(out)) == df_rows(want)


def test_feed_survives_compacted_window_within_retention(spark, replayed):
    """A compaction inside the window no longer breaks catch-up: delta
    files are attributed per append COMMIT (snapshot minus parent —
    immutable under the later rewrite), so the feed across the
    compaction equals the same window read before it."""
    t, log, appends = replayed
    before = df_rows(changes_between(spark, t, appends[0]["snapshot_id"]))
    assert t.compact(spark, min_files=2) is not None
    after = df_rows(changes_between(spark, t, appends[0]["snapshot_id"]))
    assert after == before
    # and the oracle: LWW winners of the window's lsn range
    lo_w, hi_w = appends[0]["offset_hi"], appends[3]["offset_hi"]
    window = log.where((F.col("lsn") > lo_w) & (F.col("lsn") <= hi_w))
    want = lww_dedup(window).select(
        "conv_id", "turn_idx",
        F.when(F.col("op") == "D", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        "lsn", "role", "text", "tool", "ts",
    )
    assert after == df_rows(want)
    # vacuum keeps chain-referenced pre-compaction deltas: still answerable
    t.vacuum()
    assert df_rows(changes_between(spark, t, appends[0]["snapshot_id"])) == before


def test_feed_refuses_beyond_retention(spark, replayed):
    """expire_snapshots sets the catch-up horizon: a window whose from-
    snapshot was expired refuses (lineage), and after vacuum the expired
    deltas are actually gone from disk."""
    t, _log, appends = replayed
    t.compact(spark, min_files=2)
    # keep_last=2 still references every append delta (snapshot file
    # lists are cumulative), so nothing vacuums and the feed over the
    # retained window keeps working
    expired = t.expire_snapshots(keep_last=2)
    assert appends[0]["snapshot_id"] in expired
    with pytest.raises(ValueError, match="lineage"):
        changes_between(spark, t, appends[0]["snapshot_id"])
    chain = t.snapshot_ids()
    assert len(chain) == 2 and chain[0] == appends[3]["snapshot_id"]
    assert t.vacuum() == []  # appends[3] still references all deltas
    assert changes_between(spark, t, chain[0], chain[1]).count() == 0  # compact-only window
    # keep_last=1 drops the last append snapshot: compacted buckets'
    # delta files lose their only reference and vacuum really frees them
    t.expire_snapshots(keep_last=1)
    assert t.vacuum()
    state = t.read_logical(spark)
    assert state.count() > 0  # current snapshot unharmed


def test_maintain_cli_compact_expire_vacuum(spark, replayed, capsys):
    """jobs/maintain.py: the three levers in safe order, JSON summary."""
    import json

    from filipo_spark.jobs import maintain as maintain_job

    t, _log, _appends = replayed
    maintain_job.main([
        "--table", t.root, "--compact-min-files", "2",
        "--expire-keep-last", "1", "--vacuum",
    ])
    out = json.loads(capsys.readouterr().out)
    assert out["compacted_buckets"]
    assert len(out["expired_snapshots"]) >= 4
    assert out["vacuumed_files"] > 0
    assert out["retained_snapshots"] == 1
    assert t.read_logical(spark).count() > 0


def test_cursor_protects_retention(spark, replayed):
    """VERDICT r4 #5: a registered consumer cursor turns retention sizing
    from folklore into a checked invariant — expire refuses to strand a
    lagging cursor, proceeds once it advances, and force overrides."""
    t, _log, appends = replayed
    t.set_cursor("etl", appends[0]["snapshot_id"])
    assert t.cursors() == {"etl": appends[0]["snapshot_id"]}
    with pytest.raises(ValueError, match="strand"):
        t.expire_snapshots(keep_last=2)
    assert appends[0]["snapshot_id"] in t.snapshot_ids()  # nothing expired

    # the consumer catches up -> the same expiry proceeds
    t.set_cursor("etl", appends[3]["snapshot_id"])
    expired = t.expire_snapshots(keep_last=2)
    assert appends[0]["snapshot_id"] in expired

    # a cursor may never point off the retained lineage
    with pytest.raises(ValueError, match="lineage"):
        t.set_cursor("etl", appends[0]["snapshot_id"])

    # operator override for a dead consumer
    t.set_cursor("dead", t.snapshot_ids()[0])
    with pytest.raises(ValueError, match="strand"):
        t.expire_snapshots(keep_last=1)
    t.expire_snapshots(keep_last=1, force=True)
    assert len(t.snapshot_ids()) == 1
    t.delete_cursor("dead")
    assert "dead" not in t.cursors()


def test_feed_cli_cursor_roundtrip(spark, replayed, capsys):
    """jobs/feed.py --cursor: seed with --from-snapshot, advance on a
    successful read, resume from the stored position next run."""
    import json as _json

    from filipo_spark.jobs import feed

    t, _log, appends = replayed
    feed.main([
        "--table", t.root, "--cursor", "c1",
        "--from-snapshot", appends[0]["snapshot_id"],
        "--to-snapshot", appends[1]["snapshot_id"],
    ])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["cursor"] == "c1" and out["rows"] > 0
    assert t.cursors()["c1"] == appends[1]["snapshot_id"]

    feed.main(["--table", t.root, "--cursor", "c1"])  # resume, drain to current
    out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["from_snapshot"] == appends[1]["snapshot_id"]
    assert out2["to_snapshot"] == t.current_snapshot_id()
    assert t.cursors()["c1"] == t.current_snapshot_id()

    with pytest.raises(SystemExit, match="not registered"):
        feed.main(["--table", t.root, "--cursor", "nobody"])
