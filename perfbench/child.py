"""The engine side of one benchmark run: ``python3 -m perfbench.child <cfg.json>``.

``run.py`` generates the inputs, starts this process, and checks what it
leaves behind.  This process imports the engine, runs one workload
through the engine's public calls, and writes ``result.json`` (timings,
counts and the checksums of the engine's outputs) plus, when traced,
``spans.json`` and Spark's event log.  It stops its Spark JVM before it
exits.
"""

from __future__ import annotations

import json
import os
import sys
import time

from perfbench.spans import Tracer


def checksum(df, cols: list[str]):
    """Order-independent multiset hash of ``df[cols]``: row count plus two
    sums of 32-bit slices of each row's md5.  ``check.py`` computes the
    same figure in DuckDB; every listed column is materialized."""
    from pyspark.sql import functions as F

    parts = []
    for c in cols:
        col = F.col(c)
        if c == "ts":
            col = F.date_format(col, "yyyy-MM-dd HH:mm:ss")
        parts.append(F.coalesce(col.cast("string"), F.lit("~")))
    h = F.md5(F.concat_ws("|", *parts))
    row = df.select(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("a"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("b"),
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("a").alias("a"), F.sum("b").alias("b")).collect()[0]
    return [int(row["n"]), int(row["a"] or 0), int(row["b"] or 0)]


STATE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
FEED_COLS = ["conv_id", "turn_idx", "op", "lsn", "role", "text", "tool", "ts"]


def table_files(table) -> tuple[int, int]:
    """(data files, bytes) referenced by the current snapshot."""
    snap = table.current_snapshot()
    files = [os.path.join(table.root, f) for fl in snap["files"].values() for f in fl]
    return len(files), sum(os.path.getsize(f) for f in files)


def new_files(table, sid: str) -> tuple[int, int]:
    """(files, bytes) a commit added: its snapshot minus its parent's."""
    with open(table._snap_path(sid)) as f:
        snap = json.load(f)
    old: set[str] = set()
    if snap.get("parent"):
        with open(table._snap_path(snap["parent"])) as f:
            old = {x for fl in json.load(f)["files"].values() for x in fl}
    added = [x for fl in snap["files"].values() for x in fl if x not in old]
    return len(added), sum(os.path.getsize(os.path.join(table.root, x)) for x in added)


def _count_commit(sp, args, res) -> None:
    if res is not None and res.snapshot_id and not res.skipped:
        sp["files_written"], sp["bytes_written"] = new_files(args[0], res.snapshot_id)


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.work = cfg["work"]
        self.tracer = Tracer(cfg["run_id"], enabled=bool(cfg["trace"]))
        self.out: dict = {"ops": 0}

    def op(self, fn, *args, **kwargs):
        """One attempted engine operation."""
        self.out["ops"] += 1
        return fn(*args, **kwargs)

    def start(self):
        from filipo_spark.session import get_spark

        extra = {"spark.ui.showConsoleProgress": "false"}
        if self.cfg["trace"]:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                f"perfbench-{self.cfg['workload']}", cores=self.cfg["cores"], extra_conf=extra
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.out["t_session"] = time.time() - self.cfg["t_spawn"]
        self.tracer.attach(self.spark.sparkContext)
        self._wrap()

    def _wrap(self) -> None:
        import filipo_spark.align as align_pkg
        import filipo_spark.align.drift as drift
        from filipo_spark.table.icelet import IceletTable

        t = self.tracer
        t.wrap(IceletTable, "compact", "icelet.compact", after=_count_commit)
        if not t.enabled:
            return
        t.wrap(IceletTable, "apply_epoch", "icelet.apply_epoch", after=_count_commit)
        t.wrap(IceletTable, "bootstrap", "icelet.bootstrap")
        # the tail and the drifted replay import these at call time
        t.wrap(align_pkg, "align", "mapper.align")
        t.wrap(drift, "mapping_health", "drift.health")

    def stop(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gw = spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)
        spark.stop()
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def finish_table(self, table) -> None:
        self.out["data_files"], self.out["table_bytes"] = table_files(table)

    def reads_and_feeds(self, table, from_sid: str, to_sid: str, c: dict) -> None:
        """Full resolved reads of the final table and change feeds over
        (from_sid, to_sid]; every column feeds a checksum, so every column
        is materialized.  The first ``warm_reads`` reads and ``warm_feeds``
        feeds warm their code paths up and are checked but not timed.  The
        timed ones are interleaved, so both medians span the same stretch
        of the run and a burst of load on the host cannot cover most of
        either."""
        from filipo_spark.table.changes import changes_between

        def read():
            with self.tracer.span("icelet.read") as sp:
                t0 = time.perf_counter()
                self.out["state_checksums"].append(
                    self.op(lambda: checksum(table.read_logical(self.spark), STATE_COLS)))
                dt = time.perf_counter() - t0
            if self.tracer.enabled:
                snap = table.current_snapshot()
                sp["files_opened"] = sum(len(fl) for fl in snap["files"].values())
            return dt

        def feed():
            with self.tracer.span("changes.feed") as sp:
                t0 = time.perf_counter()
                self.out["feed_checksums"].append(self.op(lambda: checksum(
                    changes_between(self.spark, table, from_sid, to_sid), FEED_COLS)))
                dt = time.perf_counter() - t0
            if self.tracer.enabled:
                sp["files_read"] = feed_file_count(table, from_sid, to_sid)
            return dt

        self.out.update(state_checksums=[], feed_checksums=[], read_s=[], feed_s=[])
        for _ in range(c.get("warm_reads", 0)):
            read()
        for _ in range(c.get("warm_feeds", 0)):
            feed()
        # each kind evenly spread over the timed stretch
        order = sorted([((i + 0.5) / c["reads"], "read_s") for i in range(c["reads"])]
                       + [((i + 0.5) / c["feeds"], "feed_s") for i in range(c["feeds"])])
        for _, kind in order:
            self.out[kind].append(read() if kind == "read_s" else feed())


def feed_file_count(table, from_sid: str, to_sid: str) -> int:
    """Delta files of the append commits in (from_sid, to_sid]."""
    chain = table.snapshot_ids()
    window = chain[chain.index(from_sid) + 1: chain.index(to_sid) + 1]
    kinds = {m["snapshot_id"]: m["kind"] for m in table.manifest()}
    return sum(new_files(table, s)[0] for s in window if kinds.get(s) == "append")


def commits(table, kind: str = "append") -> list[dict]:
    return [m for m in table.manifest() if m["kind"] == kind]


def backfill(run: Run) -> None:
    from filipo_spark.replay import run_replay
    from filipo_spark.table.icelet import IceletTable

    c = run.cfg
    table = IceletTable.create(os.path.join(run.work, "table"))
    run.out["setup_s"] = time.time() - c["t_spawn"]
    spark = run.spark
    source = spark.read.parquet(os.path.join(c["inputs"], "log"))
    n = c["n_events"]
    bounds = (0, n - 1, n)
    epoch_s = []
    for k in range(c["warm_epochs"] + c["timed_epochs"]):
        with run.tracer.span("replay.run_replay"):
            t0 = time.perf_counter()
            rep = run.op(run_replay, spark, table, source, batch_size=c["batch"],
                         max_epochs=k + 1, bounds=bounds)
            dt = time.perf_counter() - t0
        if rep.epochs_applied != 1:
            raise RuntimeError(f"epoch {k}: {rep.epochs_applied} epochs applied")
        if k >= c["warm_epochs"]:
            epoch_s.append(dt)
    run.out["epoch_s"] = epoch_s
    run.out["events_applied"] = c["batch"] * (c["warm_epochs"] + c["timed_epochs"])
    run.out["events_per_s"] = c["batch"] * len(epoch_s) / sum(epoch_s)
    run.finish_table(table)
    appends = commits(table)
    run.reads_and_feeds(table, appends[-3]["snapshot_id"], appends[-1]["snapshot_id"], c)
    run.op(table.compact, spark, min_files=1)
    run.out["compact_s"] = run.tracer.durations("icelet.compact")
    run.out["compacted_checksum"] = checksum(table.read_logical(spark), STATE_COLS)
    # the same input again, onto the same table: nothing to commit
    before = table.current_snapshot_id()
    rep = run.op(run_replay, spark, table, source, batch_size=c["batch"], bounds=bounds)
    run.out["idempotent"] = {
        "applied": rep.epochs_applied, "skipped": rep.epochs_skipped,
        "current_before": before, "current_after": table.current_snapshot_id(),
    }


def tail(run: Run) -> None:
    from pyspark.sql.streaming import StreamingQueryListener

    import filipo_spark.align as align_pkg
    from filipo_spark.align.mapper import Mapping
    from filipo_spark.streaming.tail import tail_changelog
    from filipo_spark.table.icelet import IceletTable

    from perfbench import gen

    # record each learned mapping, in order, for the ground-truth check
    mappings, learn = [], align_pkg.align

    def recording_align(*args, **kwargs):
        m = learn(*args, **kwargs)
        mappings.append(sorted(m.as_dict().items()))
        return m

    align_pkg.align = recording_align
    c = run.cfg
    spark = run.spark
    table = IceletTable.create(os.path.join(run.work, "table"))
    run.op(table.bootstrap, spark.read.parquet(os.path.join(c["inputs"], "bootstrap")))
    run.out["setup_s"] = time.time() - c["t_spawn"]

    progress: list[tuple[int, int, float]] = []

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows:
                progress.append((p.batchId, p.numInputRows, p.durationMs["triggerExecution"] / 1000.0))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    src, ckpt = os.path.join(c["inputs"], "stream"), os.path.join(run.work, "checkpoint")
    kwargs = dict(max_files_per_trigger=1, auto_realign=True, source_format="drifted",
                  compact_every=c["compact_every"], compact_min_files=2)
    # timed runs resume with the stored mapping; the traced run learns it
    # on its first batch, so the align layer is measured there
    stored = None if c["trace"] else Mapping.from_json(gen.function_store(c["shape"]))
    with run.tracer.span("tail.tail_changelog"):
        stats = tail_changelog(spark, src, table, ckpt, mapping=stored, **kwargs)
    run.out["ops"] += stats["batches"]
    # progress events arrive on the listener bus after the query ends
    deadline = time.time() + 30
    while len(progress) < c["n_batches"] and time.time() < deadline:
        time.sleep(0.05)
    progress.sort()
    if [p[0] for p in progress] != list(range(c["n_batches"])):
        raise RuntimeError(f"batches seen: {[p[0] for p in progress]}")
    # epoch_p50_s counts plain batches: a batch that realigned or
    # compacted has its cost in events_per_s and compact_s
    special = {m["epoch"] for m in commits(table, "compact")} | {
        m["epoch"] for m in commits(table) if any(
            e.startswith("realign:") for e in m["evolution_events"])}
    timed = progress[c["warm_batches"]:]
    run.out["batch_s"] = [p[2] for p in progress]
    run.out["epoch_s"] = [p[2] for p in timed if p[0] not in special]
    run.out["events_per_s"] = sum(p[1] for p in timed) / sum(p[2] for p in timed)
    run.out["events_applied"] = sum(p[1] for p in progress)
    run.out["realigns"] = stats["realigns"]
    run.out["mappings"] = mappings
    run.finish_table(table)
    appends = commits(table)
    run.reads_and_feeds(table, appends[-c["feed_batches"] - 1]["snapshot_id"],
                        appends[-1]["snapshot_id"], c)
    # the run's first compaction warms the compaction path up
    run.out["compact_s"] = run.tracer.durations("icelet.compact")[1:]
    before = table.current_snapshot_id()
    n_commits = len(table.manifest())
    again = run.op(tail_changelog, spark, src, table, ckpt, mapping=stats["mapping"], **kwargs)
    run.out["idempotent"] = {
        "applied": again["batches"], "commits": len(table.manifest()) - n_commits,
        "current_before": before, "current_after": table.current_snapshot_id(),
    }
    spark.streams.removeListener(listener)


WORKLOADS = {"backfill": backfill, "tail": tail}


def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    run = Run(cfg)
    status = 0
    try:
        run.start()
        t0 = time.perf_counter()
        WORKLOADS[cfg["workload"]](run)
        run.out["workload_s"] = time.perf_counter() - t0
    except Exception:
        import traceback

        traceback.print_exc()
        run.out["error"] = traceback.format_exc(limit=3)
        status = 1
    finally:
        run.stop()
    if cfg["trace"]:
        run.tracer.dump(os.path.join(run.work, "spans.json"))
    with open(os.path.join(run.work, "result.json"), "w") as f:
        json.dump(run.out, f)
    return status


if __name__ == "__main__":
    sys.exit(main())
