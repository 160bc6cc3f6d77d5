"""Independent output checks: a pyarrow + DuckDB replay of the generated
inputs, per-table digests, the ledger's in-order commit rule, and the
reference renderings the query mix is compared against.

Nothing here calls the program's own transform, filter compiler, dedup
or ledger code; the rules are restated from the reference semantics.
"""

from __future__ import annotations

import ast
import json
import uuid
from dataclasses import dataclass

import duckdb
import pyarrow as pa

from .gen import TableInputs, window_name

# filter documents the ingest pipelines run with (reference row_filters DSL)
INGEST_FILTERS: dict[str, dict] = {
    # $nin / $ne keep NULLs under the reference's Python semantics
    "casts": {"$and": [{"data.fid": {"$nin": [7, 13]}}, {"data.parent_fid": {"$ne": 3}}]},
    "reactions": {"data.reaction_type": {"$in": [1, 2]}},
}

_SQL_OPS = {"$lt": "<", "$lte": "<=", "$gt": ">", "$gte": ">=", "$eq": "="}


def _lit(v) -> str:
    return f"'{v}'" if isinstance(v, str) else repr(v)


def filter_sql(doc: dict | None) -> str:
    """The filter DSL as a DuckDB predicate with the reference's NULL rules:
    ``$ne``/``$nin`` keep NULL values, every other operator drops them."""
    if not doc:
        return "TRUE"
    parts = []
    for key, value in doc.items():
        if key in ("$and", "$or"):
            subs = [f"({filter_sql(s)})" for s in value]
            joiner = " AND " if key == "$and" else " OR "
            parts.append(joiner.join(subs) if subs else ("TRUE" if key == "$and" else "FALSE"))
            continue
        col = '"' + key.removeprefix("data.") + '"'
        for op, v in value.items():
            if op == "$in":
                parts.append(f"{col} IN ({', '.join(map(_lit, v))})")
            elif op == "$nin":
                parts.append(f"({col} NOT IN ({', '.join(map(_lit, v))}) OR {col} IS NULL)")
            elif op == "$ne":
                parts.append(f"({col} <> {_lit(v)} OR {col} IS NULL)")
            else:
                parts.append(f"{col} {_SQL_OPS[op]} {_lit(v)}")
    return " AND ".join(f"COALESCE({p}, FALSE)" for p in parts)


def clean_embeds(raw: str | None) -> str | None:
    """casts.embeds as the reference cleans it: Python-repr payloads are
    re-rendered as compact sorted JSON, valid JSON passes through, any
    payload that parses as neither becomes NULL."""
    if raw is None:
        return None
    if raw.startswith(("[{'", "{'")):
        try:
            return json.dumps(ast.literal_eval(raw), separators=(",", ":"), sort_keys=True)
        except (ValueError, SyntaxError):
            return None
    try:
        json.loads(raw)
    except ValueError:
        return None
    return raw


def transformed(table: str, rows: pa.Table) -> pa.Table:
    """Rows as the pipeline stores them: uuid PK as a hyphenated string,
    casts.embeds cleaned."""
    ids = pa.array([None if b is None else str(uuid.UUID(bytes=b)) for b in rows.column("id").to_pylist()], pa.string())
    out = rows.set_column(rows.schema.get_field_index("id"), "id", ids)
    if table == "casts":
        emb = pa.array([clean_embeds(v) for v in rows.column("embeds").to_pylist()], pa.string())
        out = out.set_column(out.schema.get_field_index("embeds"), "embeds", emb)
    return out


def batches_of(inp: TableInputs, include_snapshot: bool = True) -> list[list[pa.Table]]:
    """The import order of a stream: the snapshot, then its windows. No
    PK occurs twice with one version inside the window batch, so grouping
    the windows into one batch or many gives the same end state."""
    wins = [w for w in inp.windows if w is not None]
    return ([[inp.snapshot]] if include_snapshot else []) + [wins]


def replay(con: duckdb.DuckDBPyConnection, table: str, batches: list[list[pa.Table]],
           name: str, tie_wins: bool = True) -> int:
    """Last-writer-wins replay of ``batches`` (in import order) into the
    DuckDB table ``name``; returns its row count. Filtered rows never
    enter. On equal versions the later batch wins (the sink's ``>=``
    guard); ``tie_wins=False`` flips that rule for fault injection."""
    parts = []
    for seq, files in enumerate(batches):
        for f in files:
            parts.append(transformed(table, f).append_column("__batch", pa.array([seq] * f.num_rows, pa.int32())))
    rows = pa.concat_tables(parts)  # noqa: F841 (read by DuckDB below)
    order = "DESC" if tie_wins else "ASC"
    con.execute(f"""
        CREATE OR REPLACE TABLE {name} AS
        SELECT * EXCLUDE (__batch, __rn) FROM (
            SELECT *, row_number() OVER (PARTITION BY id ORDER BY updated_at DESC, __batch {order}) AS __rn
            FROM rows WHERE {filter_sql(INGEST_FILTERS.get(table))}
        ) WHERE __rn = 1""")
    return con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]


def kept_rows(con: duckdb.DuckDBPyConnection, table: str, files: list[pa.Table]) -> int:
    """Rows of ``files`` that pass the table's ingest filter."""
    rows = pa.concat_tables(files)  # noqa: F841 (read by DuckDB below)
    return con.execute(f"SELECT count(*) FROM rows WHERE {filter_sql(INGEST_FILTERS.get(table))}").fetchone()[0]


def digest(con: duckdb.DuckDBPyConnection, relation: str) -> tuple[int, int]:
    """(row count, order-independent sum of row hashes) over every column
    in name order; timestamps compare as epoch microseconds."""
    cols = con.execute(f"DESCRIBE {relation}").fetchall()
    exprs = []
    for name, typ, *_ in sorted(cols):
        c = f'"{name}"'
        if typ.startswith("TIMESTAMP"):
            c = f"epoch_us({c})"
        exprs.append(f"COALESCE(CAST({c} AS VARCHAR), '<null>')")
    row = con.execute(
        f"SELECT count(*), COALESCE(sum(hash(concat_ws('|', {', '.join(exprs)}))::HUGEINT), 0) FROM {relation}"
    ).fetchone()
    return int(row[0]), int(row[1])


# ---------------------------------------------------------------------------
# ledger
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class LedgerVerdict:
    ok: bool
    message: str = ""


def ledger_lines(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def expected_commits(table: str, snapshot_end: int, slots: list[tuple[int, bool]],
                     gap: int | None = None) -> list[str]:
    """The window files that must be committed once the windows in
    ``slots`` (``(start, is_empty)`` in stream order) were offered, with
    slot ``gap`` (if any) still unpublished: the snapshot plus every
    window before the gap."""
    names = [window_name(table, 0, snapshot_end)]
    for i, (start, empty) in enumerate(slots):
        if gap is not None and i >= gap:
            break
        names.append(window_name(table, start, start + 1, empty))
    return names


def check_ledger(lines: list[dict], expected: list[str]) -> LedgerVerdict:
    """Every expected window committed, committed in window order with no
    hole, and nothing committed past the expected frontier (a gap)."""
    done: dict[str, dict] = {}
    order: list[dict] = []
    for e in lines:
        if e["completed"] and e["file_name"] not in done:
            done[e["file_name"]] = e
            order.append(e)
    missing = [n for n in expected if n not in done]
    if missing:
        return LedgerVerdict(False, f"{len(missing)} windows not committed, first {missing[0]}")
    extra = sorted(set(done) - set(expected))
    if extra:
        return LedgerVerdict(False, f"{len(extra)} windows committed past the frontier, first {extra[0]}")
    ends = [e["end_timestamp"] for e in order]
    if ends != sorted(ends):
        return LedgerVerdict(False, "windows committed out of order")
    incs = sorted((e for e in order if e["file_type"] == "incremental"), key=lambda e: e["start_timestamp"])
    full = [e for e in order if e["file_type"] == "full"]
    frontier = full[0]["end_timestamp"] if full else (incs[0]["start_timestamp"] if incs else None)
    for e in incs:
        if e["start_timestamp"] != frontier:
            return LedgerVerdict(False, f"hole before {e['file_name']}")
        frontier = e["end_timestamp"]
    return LedgerVerdict(True)


# ---------------------------------------------------------------------------
# query mix references
# ---------------------------------------------------------------------------


def pwv_reference(con: duckdb.DuckDBPyConnection, profiles: str, verifications: str) -> list[tuple]:
    """The reference's profiles_with_verifications view rendered by DuckDB
    over the replayed tables: each profile with its live verifications,
    newest first, addresses as '0x' hex. Timestamps compare at the
    millisecond precision of Spark's JSON rendering."""
    rows = con.execute(f"""
        SELECT p.id, p.fid, p.username,
               COALESCE(v.vs, []) AS vs
        FROM {profiles} p LEFT JOIN (
            SELECT fid, list([CAST(epoch_us("timestamp") // 1000 AS VARCHAR), '0x' || lower(hex(address)),
                              CAST(protocol AS VARCHAR)] ORDER BY "timestamp" DESC, '0x' || lower(hex(address)) DESC, protocol DESC) AS vs
            FROM {verifications} WHERE deleted_at IS NULL GROUP BY fid
        ) v ON p.fid = v.fid""").fetchall()
    return sorted((i, f, u, tuple(tuple(x) for x in vs)) for i, f, u, vs in rows)


def pwv_canonical(rows) -> list[tuple]:
    """Spark's profiles_with_verifications rows (id, fid, username, JSON
    verifications) in the same canonical form as ``pwv_reference``."""
    from datetime import datetime, timedelta, timezone

    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    out = []
    for i, f, u, js in rows:
        vs = []
        for v in json.loads(js):
            ms = (datetime.fromisoformat(v["timestamp"]) - epoch) // timedelta(milliseconds=1)
            vs.append((str(ms), v["address"], str(v["protocol"])))
        out.append((i, f, u, tuple(vs)))
    return sorted(out)
