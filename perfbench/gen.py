"""Deterministic benchmark inputs, written as parquet by DuckDB.

Every value is a function of ``(seed, row number)`` through DuckDB's
``hash``, so the same seed gives byte-identical inputs on every run.
Nothing here imports the engine: the inputs are what a CDC source would
hand it, and the checks in ``check.py`` recompute the expected results
from these same files.

Three inputs:

* a change log (``lsn, op, conv_id, turn_idx, role, text, tool, ts``)
  with hot-conversation skew, out-of-order ``ts``, deletes, updates and
  exact duplicates re-emitted a few LSNs after their originals, so LSNs
  stay dense and LSN-planned epochs hold equal event counts;
* a bootstrap table (one row per key) whose row ``r`` is conversation
  ``r // turns``, turn ``r % turns``;
* drifted echo streams: updates that echo bootstrap rows (some with
  upper-cased text) re-shaped into one of four wire shapes, each with
  its ground-truth mapping (``SHAPES``, ``function_store``).
"""

from __future__ import annotations

import hashlib
import json
import os

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray"
).split()
ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["search", "python", "browser", "calculator"]
TS0 = "TIMESTAMPTZ '2024-02-01 00:00:00'"

# wire shape -> (target column -> source field); the ground truth each
# learned mapping must equal.  ``json`` flattens to dotted paths; array
# indices collapse to ``[*]``.
SHAPES = {
    "rename": {
        "conv_id": "conversationId", "turn_idx": "turnNo", "role": "speaker",
        "text": "body", "tool": "toolName", "ts": "eventTime",
    },
    "nested": {
        "conv_id": "msg.conv", "turn_idx": "msg.pos", "role": "msg.meta.who",
        "text": "msg.content", "tool": "calls[*].fn", "ts": "msg.meta.at",
    },
    "typedrift": {
        "conv_id": "thread", "turn_idx": "seq", "role": "author",
        "text": "message", "tool": "invoked", "ts": "created",
    },
    "json": {
        "conv_id": "rec.cid", "turn_idx": "rec.n", "role": "rec.hdr.kind",
        "text": "rec.txt", "tool": "ops[*].name", "ts": "rec.hdr.stamp",
    },
}
# share of payloads that carry each non-key field: tool names sit on
# assistant and tool turns only
PRESENCE = {"role": 1.0, "text": 1.0, "tool": 0.5, "ts": 1.0}


def function_store(shape: str) -> str:
    """A map-payload shape's ground truth in the engine's persisted
    mapping layout (``Mapping.to_json``): what a tail restarted with its
    stored mapping loads."""
    f = SHAPES[shape]
    return json.dumps({
        "key_fields": {k: f[k] for k in ("conv_id", "turn_idx")},
        "columns": [{"tgt_column": c, "src_field": f[c], "support": PRESENCE[c]}
                    for c in ("role", "text", "tool", "ts")],
        "evolution_events": [],
        "payload_json_schema": None,
    })


def _hash(seed: int, salt: int, expr: str) -> str:
    """DuckDB ``hash`` of an integer expression, offset by a constant
    drawn from (seed, salt).  (Multi-argument ``hash(a, b, x)`` combines
    the parts so that two salts give correlated low bits.)"""
    k = int(hashlib.sha256(f"{seed}:{salt}".encode()).hexdigest()[:15], 16)
    return f"hash(({expr}) + {k})"


def _u(seed: int, salt: int, expr: str) -> str:
    """Uniform [0, 1) from a hash of (seed, salt, expr)."""
    return f"(({_hash(seed, salt, expr)} % 1000000)::DOUBLE / 1e6)"


def _h(seed: int, salt: int, expr: str, mod: int) -> str:
    return f"({_hash(seed, salt, expr)} % {mod})::BIGINT"


def _phrases() -> list[str]:
    """256 fixed word runs (1-9 words) that texts are assembled from."""
    out = []
    for k in range(256):
        start, n = (k * 7) % len(WORDS), 1 + (k * 5) % 9
        out.append(" ".join((WORDS * 2)[start:start + n]))
    return out


PHRASES = "[" + ", ".join(f"'{p}'" for p in _phrases()) + "]"


def _text(seed: int, ident: str) -> str:
    """Pseudo-text: two of PHRASES plus a hex nonce."""
    return (
        f"{PHRASES}[1 + {_h(seed, 1, ident, 256)}] || ' ' || {PHRASES}[1 + {_h(seed, 2, ident, 256)}]"
        f" || ' #' || lower(hex({_h(seed, 3, ident, 1 << 40)}))"
    )


def _role(seed: int, ident: str) -> str:
    roles = ", ".join(f"'{r}'" for r in ROLES)
    return f"[{roles}][1 + {_h(seed, 4, ident, len(ROLES))}]"


def _tool(seed: int, ident: str, role: str) -> str:
    tools = ", ".join(f"'{t}'" for t in TOOLS)
    return f"CASE WHEN {role} IN ('tool', 'assistant') THEN [{tools}][1 + {_h(seed, 5, ident, len(TOOLS))}] END"


def connect(threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET threads = {threads}")
    con.execute("SET preserve_insertion_order = true")
    return con


def changelog_sql(
    seed: int, start: int, n_events: int, n_conv: int, turns: int,
    hot_frac: float = 0.01, hot_share: float = 0.2, dup_rate: float = 0.02,
    ooo_rate: float = 0.05, del_rate: float = 0.05, update_rate: float = 0.35,
) -> str:
    """SELECT producing the change events with LSNs ``start ..
    start + n_events - 1`` of one log: any LSN range of the same log
    (seed, sizes) yields the same rows, so a log can be written in
    chunks."""
    n_hot = max(1, int(n_conv * hot_frac))
    i = "i"
    d = f"(1 + {_h(seed, 11, i, 40)})"  # a duplicate copies the event d LSNs back
    dup0 = lambda x: f"({_u(seed, 10, x)} < {dup_rate})"  # noqa: E731
    # a duplicate only ever copies an original, so it equals that event
    dup = f"({dup0(i)} AND {i} >= {d} AND NOT {dup0(f'({i} - {d})')})"
    s = "src"
    conv = (
        f"CASE WHEN {_u(seed, 12, s)} < {hot_share} THEN {_h(seed, 13, s, n_hot)}"
        f" ELSE {_h(seed, 16, s, n_conv)} END"
    )
    v = _u(seed, 17, s)
    op = f"CASE WHEN {v} < {del_rate} THEN 'D' WHEN {v} < {del_rate + update_rate} THEN 'U' ELSE 'I' END"
    back = f"CASE WHEN {_u(seed, 18, s)} < {ooo_rate} THEN {_h(seed, 19, s, 5000)} ELSE 0 END"
    role = _role(seed, s)
    return f"""
    WITH e AS (
      SELECT i AS lsn, CASE WHEN {dup} THEN i - {d} ELSE i END AS src
      FROM range({start}, {start + n_events}) t(i)
    ), k AS (
      SELECT lsn, src, {op} AS op, {conv} AS conv, {_h(seed, 20, s, turns)}::INTEGER AS turn_idx,
             {TS0} + to_seconds(src - {back}) AS ts
      FROM e
    )
    SELECT lsn, op, printf('c%08d', conv) AS conv_id, turn_idx,
           CASE WHEN op <> 'D' THEN {role} END AS role,
           CASE WHEN op <> 'D' THEN {_text(seed + 1, s)} END AS text,
           CASE WHEN op <> 'D' THEN {_tool(seed, s, role)} END AS tool,
           ts
    FROM k
    """


def bootstrap_sql(seed: int, n_conv: int, turns: int) -> str:
    """One row per key; row r = (conversation r // turns, turn r % turns)."""
    r = "r"
    role = _role(seed + 7, r)
    return f"""
    SELECT printf('c%08d', r // {turns}) AS conv_id, (r % {turns})::INTEGER AS turn_idx,
           {role} AS role, {_text(seed + 7, r)} AS text, {_tool(seed + 7, r, role)} AS tool,
           {TS0} - to_seconds(86400 * 30) + to_seconds(r) AS ts
    FROM range({n_conv * turns}) t(r)
    """


def echo_sql(seed: int, lsn0: int, n_events: int, epoch: int, n_rows: int, turns: int) -> str:
    """Undrifted echo updates of one epoch: bootstrap rows re-observed
    as ``op='U'`` with the row's own ``ts``; a fifth of them carry
    upper-cased text.  LSNs ``lsn0 .. lsn0 + n_events - 1``."""
    r = f"{_h(seed, 30, f'{epoch}::BIGINT * 1000000007 + j', n_rows)}"
    role = _role(seed + 7, "r")
    return f"""
    WITH e AS (SELECT {lsn0} + j AS lsn, {r} AS r, j FROM range({n_events}) t(j))
    SELECT lsn, 'U' AS op, printf('c%08d', r // {turns}) AS conv_id,
           (r % {turns})::INTEGER AS turn_idx, {role} AS role,
           CASE WHEN {_h(seed, 31, f'{epoch}::BIGINT * 1000000007 + j', 5)} = 0 THEN upper({_text(seed + 7, 'r')})
                ELSE {_text(seed + 7, 'r')} END AS text,
           {_tool(seed + 7, 'r', role)} AS tool,
           {TS0} - to_seconds(86400 * 30) + to_seconds(r) AS ts
    FROM e
    """


def drifted_sql(shape: str, undrifted: str) -> str:
    """Re-shape an undrifted change query into ``(lsn, op, payload)``:
    a ``map<string,string>`` payload (null values dropped), or a JSON
    string for the ``json`` shape."""
    f = SHAPES[shape]
    iso = "strftime(ts, '%Y-%m-%dT%H:%M:%S')"
    if shape == "json":
        return f"""
        SELECT lsn, op, json_object(
          'rec', json_object('cid', conv_id, 'n', turn_idx, 'txt', text,
                             'hdr', json_object('kind', role, 'stamp', {iso})),
          'ops', json_array(json_object('name', tool)))::VARCHAR AS payload
        FROM ({undrifted}) u
        """
    tool_key = f["tool"].replace("[*]", "[0]")
    pairs = [
        (f["conv_id"], "conv_id"), (f["turn_idx"], "turn_idx::VARCHAR"),
        (f["role"], "role"), (f["text"], "text"), (tool_key, "tool"), (f["ts"], iso),
    ]
    entries = ", ".join(f"{{'key': '{k}', 'value': {v}}}" for k, v in pairs)
    return f"""
    SELECT lsn, op, map_from_entries(list_filter([{entries}], x -> x.value IS NOT NULL)) AS payload
    FROM ({undrifted}) u
    """


def write(con, sql: str, path: str, row_group: int = 131072) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    con.execute(
        f"COPY ({sql}) TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE {row_group})"
    )
