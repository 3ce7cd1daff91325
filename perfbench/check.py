"""Correctness checks, computed by DuckDB from the generated inputs alone.

Each check compares what the engine left behind (checksums it computed
over its own outputs, its commit manifest, its table pointer, the
mappings it learned) with a DuckDB computation over the same input
files.  Nothing is compared with a stored copy of an earlier output.
"""

from __future__ import annotations

import json
import os

from perfbench import gen


def _row_hash(cols: list[str]) -> str:
    parts = []
    for c in cols:
        v = "strftime(ts, '%Y-%m-%d %H:%M:%S')" if c == "ts" else f"{c}::VARCHAR"
        parts.append(f"coalesce({v}, '~')")
    return f"md5(concat_ws('|', {', '.join(parts)}))"


def checksum_sql(rows_sql: str, cols: list[str]) -> str:
    """The DuckDB twin of ``child.checksum``."""
    return f"""
    SELECT count(*), coalesce(sum(('0x' || substr(h, 1, 8))::BIGINT), 0),
           coalesce(sum(('0x' || substr(h, 9, 8))::BIGINT), 0)
    FROM (SELECT {_row_hash(cols)} AS h FROM ({rows_sql}) q)
    """


def winners_sql(events_sql: str) -> str:
    """Last-writer-wins per key: max (ts, lsn)."""
    return f"""
    SELECT * EXCLUDE (rn) FROM (
      SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY ts DESC, lsn DESC) AS rn
      FROM ({events_sql}) e) WHERE rn = 1
    """


STATE = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
FEED = ["conv_id", "turn_idx", "op", "lsn", "role", "text", "tool", "ts"]


def manifest(table_root: str) -> list[dict]:
    with open(os.path.join(table_root, "metadata", "manifest.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


class Checker:
    def __init__(self, con):
        self.con = con
        self.failures: list[str] = []

    def expect(self, name: str, got, want) -> None:
        if got != want:
            self.failures.append(f"{name}: got {got!r}, want {want!r}")

    def one(self, sql: str):
        return list(self.con.sql(sql).fetchone())

    def state(self, name: str, got: list, events_sql: str) -> None:
        """Every read equals the LWW fold of the events; deletes win as absence."""
        want = self.one(checksum_sql(
            f"SELECT * FROM ({winners_sql(events_sql)}) WHERE op <> 'D'", STATE))
        for k, g in enumerate(got):
            self.expect(f"{name} (read {k})", g, want)

    def feed(self, name: str, got: list, events_sql: str, lo: int, hi: int) -> None:
        """Every feed equals the net winners of the window's LSN range."""
        window = f"SELECT * FROM ({events_sql}) WHERE lsn > {lo} AND lsn <= {hi}"
        net = (f"SELECT conv_id, turn_idx, CASE WHEN op = 'D' THEN 'D' ELSE 'U' END AS op, "
               f"lsn, role, text, tool, ts FROM ({winners_sql(window)})")
        want = self.one(checksum_sql(net, FEED))
        for k, g in enumerate(got):
            self.expect(f"{name} (feed {k})", g, want)

    def epoch_rows(self, appends: list[dict], events_sql: str) -> None:
        """Each MoR append wrote one row per distinct key of its range."""
        for m in appends:
            lo, hi = m["offset_lo"], m["offset_hi"]
            want = self.one(f"SELECT count(DISTINCT (conv_id, turn_idx)) FROM ({events_sql}) "
                            f"WHERE lsn > {lo} AND lsn <= {hi}")[0]
            self.expect(f"n_rows of epoch ({lo},{hi}]", m["n_rows"], want)


def check_backfill(con, cfg: dict, res: dict, table_root: str) -> list[str]:
    ck = Checker(con)
    log = f"SELECT * FROM read_parquet('{cfg['inputs']}/log/*.parquet')"
    ck.state("final state", res["state_checksums"], log)
    ck.state("state after compaction", [res["compacted_checksum"]], log)
    appends = [m for m in manifest(table_root) if m["kind"] == "append"]
    b, n = cfg["batch"], cfg["warm_epochs"] + cfg["timed_epochs"]
    ck.expect("epoch ranges", [(m["offset_lo"], m["offset_hi"]) for m in appends],
              [(k * b - 1, min((k + 1) * b - 1, cfg["n_events"] - 1)) for k in range(n)])
    ck.epoch_rows(appends, log)
    ck.feed("change feed", res["feed_checksums"], log,
            appends[-2]["offset_lo"], appends[-1]["offset_hi"])
    idem = res["idempotent"]
    ck.expect("replay again: epochs applied", idem["applied"], 0)
    ck.expect("replay again: epochs skipped", idem["skipped"], n)
    ck.expect("replay again: CURRENT", idem["current_after"], idem["current_before"])
    return ck.failures


def tail_events_sql(cfg: dict) -> str:
    """Bootstrap rows (lsn -1) plus every undrifted echo event."""
    boot = f"SELECT -1::BIGINT AS lsn, 'I' AS op, * FROM read_parquet('{cfg['inputs']}/bootstrap/*.parquet')"
    echoes = [
        gen.echo_sql(cfg["seed"], lo + 1, hi - lo, k, cfg["n_rows"], cfg["turns"])
        for k, (lo, hi) in enumerate(cfg["batch_ranges"])
    ]
    return " UNION ALL ".join([boot] + [f"SELECT * FROM ({e})" for e in echoes])


def check_tail(con, cfg: dict, res: dict, table_root: str) -> list[str]:
    ck = Checker(con)
    con.execute(f"CREATE OR REPLACE TEMP TABLE events AS {tail_events_sql(cfg)}")
    events = "SELECT * FROM events"
    ck.state("final state", res["state_checksums"], events)
    appends = [m for m in manifest(table_root) if m["kind"] == "append"]
    ck.expect("batch ranges", [(m["offset_lo"], m["offset_hi"]) for m in appends],
              [tuple(r) for r in cfg["batch_ranges"]])
    ck.epoch_rows(appends, f"SELECT * FROM events WHERE lsn >= 0")
    ck.feed("change feed", res["feed_checksums"], "SELECT * FROM events WHERE lsn >= 0",
            appends[-cfg["feed_batches"]]["offset_lo"], appends[-1]["offset_hi"])
    # one wire shape: every health check keeps the mapping; the traced
    # run starts without one and must learn the shape's ground truth on
    # its first batch (realigns = flips + 1 = 1)
    learned = [0] if cfg["trace"] else []
    realigned = [m["epoch"] for m in appends
                 if any(e.startswith("realign:") for e in m["evolution_events"])]
    ck.expect("realigned batches", realigned, learned)
    ck.expect("realigns", res["realigns"], len(learned))
    ck.expect("learned mappings", [dict(m) for m in res["mappings"]],
              [gen.SHAPES[cfg["shape"]] for _ in learned])
    idem = res["idempotent"]
    ck.expect("tail again: batches", idem["applied"], 0)
    ck.expect("tail again: commits", idem["commits"], 0)
    ck.expect("tail again: CURRENT", idem["current_after"], idem["current_before"])
    return ck.failures


CHECKS = {"backfill": check_backfill, "tail": check_tail}
