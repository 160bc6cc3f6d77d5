"""Import-tracking ledger (reference S11, schema/000 + db.py:365-642).

One row per window file: file name/type/version, window bounds,
row-group progress, completed flag, backfill flag. The reference keeps
it in Postgres and advances ``last_row_group_imported`` monotonically;
with Spark's atomic micro-batch/task retry we only need file-granularity
idempotency (SURVEY W6), so the ledger records files and completion.

Storage here is a JSON-lines file — the ledger is control-plane metadata
(KBs), not data; a production deployment can point the same interface at
a JDBC table. Writes are O(1) appends (last line per file_name wins on
replay); a file name gets one record line and at most one completion
line. In-order completion (W7) is preserved: ``advance_completed_through``
only marks a file completed if every earlier window for the table is
completed, mirroring the ordered futures queue (main.py:303-338,
db.py:543-549).

The completion write is the one durability point: it appends the
completion lines of one call in one write and fsyncs once, which also
makes every earlier record line durable (per-line fsyncs at 17-18 tables
of 1-second windows per host contend on the shared filesystem journal
across every importer process). ``record_file`` does not fsync;
a record line lost in a crash is re-planned and re-recorded by the next
catch-up, and the recency-guarded upsert makes the re-import idempotent.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field
from urllib.parse import urlsplit


@dataclass
class LedgerEntry:
    file_name: str
    file_type: str  # 'full' | 'incremental'
    file_version: str
    file_duration_s: int
    start_timestamp: int
    end_timestamp: int
    total_row_groups: int = 0
    last_row_group_imported: int = -1
    completed: bool = False
    backfill: bool = False
    imported_at: float = field(default_factory=lambda: time.time())


def local_path(path: str) -> str:
    """``path``, which must be a local path. The ledger and the lake sink
    write through ``os`` calls, which would put an ``s3a://`` or
    ``file://`` root in a ``./s3a:/…`` or ``./file:/…`` tree under the
    working directory, so a root with a URI scheme is refused."""
    path = os.fspath(path)
    if urlsplit(path).scheme:
        raise ValueError(
            f"{path!r} is a URI; the ledger and the lake sink take local "
            "paths only (object-store roots are not supported yet)"
        )
    return path


def _is_complete(line: bytes) -> bool:
    """A line as ``_append`` writes it: one JSON document and its newline."""
    try:
        json.loads(line)
    except ValueError:
        return False
    return line.endswith(b"\n")


class ImportLedger:
    def __init__(self, path: str) -> None:
        self.path = local_path(path)
        self._entries: dict[str, LedgerEntry] = {}
        self._load()

    def _load(self) -> None:
        if not os.path.exists(self.path):
            return
        with open(self.path, "rb") as f:
            lines = f.readlines()
        if lines and not _is_complete(lines[-1]):
            # a crash mid-append (record lines are not fsynced) can tear
            # the last line and only that one: drop it, and cut the file
            # back to the last complete line so the next append does not
            # glue onto the fragment
            lines.pop()
            with open(self.path, "r+b") as f:
                f.truncate(sum(map(len, lines)))
                os.fsync(f.fileno())
        for line in lines:
            if line.strip():
                e = LedgerEntry(**json.loads(line))
                self._entries[e.file_name] = e  # last line wins

    def _append(self, entries: list[LedgerEntry], sync: bool) -> None:
        """O(1) write path: one write of one line per entry; replay keeps
        the last line per file_name, so an update is just a newer line.
        ``sync`` fsyncs the file after the write."""
        if not entries:
            return
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "a") as f:
            f.write("".join(json.dumps(asdict(e)) + "\n" for e in entries))
            f.flush()
            if sync:
                os.fsync(f.fileno())

    # -- upsert / progress (db.py:365-392, 527-566, 621-642 semantics) -----
    def record_file(self, entry: LedgerEntry) -> LedgerEntry:
        """Idempotent upsert keyed on file_name; an existing row wins
        (the reference's ON CONFLICT DO UPDATE no-op + RETURNING)."""
        existing = self._entries.get(entry.file_name)
        if existing is not None:
            return existing
        self._entries[entry.file_name] = entry
        self._append([entry], sync=False)
        return entry

    def _complete(self, file_name: str) -> LedgerEntry:
        e = self._entries[file_name]
        e.completed = True
        e.last_row_group_imported = max(e.total_row_groups - 1, 0)
        return e

    def mark_completed(self, file_name: str) -> None:
        self._append([self._complete(file_name)], sync=True)

    def is_completed(self, file_name: str) -> bool:
        e = self._entries.get(file_name)
        return e is not None and e.completed

    # -- resume probes (db.py:165-258 semantics) ----------------------------
    # every probe iterates a list() SNAPSHOT of the entry dict: the
    # importer thread owns writes, but freshness monitors and metrics
    # observers legitimately probe another table's ledger cross-thread,
    # and a dict resize mid-iteration raises RuntimeError (measured:
    # a soak monitor died silently on it). list(dict.values()) is
    # GIL-atomic, so no lock is needed for these read-only probes.
    def newest_full(self) -> LedgerEntry | None:
        fulls = [e for e in list(self._entries.values()) if e.file_type == "full"]
        return max(fulls, key=lambda e: e.end_timestamp, default=None)

    def resume_point(self) -> int | None:
        """Preference order (main.py:132-297): completed incremental
        frontier, else newest full's end_timestamp, else None (fresh
        start).

        The frontier is the end of the CONTIGUOUS completed chain
        (each window's start <= the running frontier), anchored at the
        newest full when one exists, else at the earliest completed
        incremental. A completed window BEYOND a gap — reachable via
        ``daemon.direct_import``, the documented operator override that
        commits out of the in-order stream — must NOT advance the
        cursor: taking the bare newest-completed end would make the
        next catch-up plan from past the gap and silently skip every
        unimported window under it, forever. Empty windows still get
        ledger rows (S3 sentinels), so legitimate streams have no
        holes and the chain walk reduces to the old newest-completed
        answer."""
        done = sorted(
            (
                e
                for e in list(self._entries.values())
                if e.completed and e.file_type == "incremental"
            ),
            key=lambda e: (e.start_timestamp, e.end_timestamp),
        )
        full = self.newest_full()
        frontier = full.end_timestamp if full is not None else None
        for e in done:
            if frontier is None:
                frontier = e.end_timestamp
            elif e.start_timestamp <= frontier:
                frontier = max(frontier, e.end_timestamp)
            else:
                break  # gap: later completions wait for it to fill
        return frontier

    def earliest_start(self) -> int | None:
        """Start of the oldest incremental window ever recorded — the
        natural lower bound for a forced backfill re-scan."""
        incs = [e for e in list(self._entries.values()) if e.file_type == "incremental"]
        return min((e.start_timestamp for e in incs), default=None)

    def is_stale(self, now: float, max_age_s: float = 21 * 24 * 3600) -> bool:
        """W4 retention watermark (db.py:704-710): if the newest imported
        state is older than the retention horizon, re-snapshot."""
        point = self.resume_point()
        return point is None or (now - point) > max_age_s

    def advance_completed_through(self, ordered_file_names: list[str], done: set[str]) -> list[str]:
        """W7 in-order commit: walk the window sequence, completing files
        only while the contiguous prefix is done; return newly completed.
        Their completion lines go out in one write and one fsync."""
        completed: list[LedgerEntry] = []
        for name in ordered_file_names:
            # a name claimed done but never recorded cannot be completed;
            # in-order discipline says stop at it — the caller records it
            # and re-advances
            if name not in done or name not in self._entries:
                break
            if not self.is_completed(name):
                completed.append(self._complete(name))
        self._append(completed, sync=True)
        return [e.file_name for e in completed]
