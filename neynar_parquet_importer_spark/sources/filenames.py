"""Window-file naming scheme (reference S8, s3.py:20-33).

Files are named ``{schema}-{table}-{start_ts}-{end_ts}.{parquet|empty}``:
a "full" snapshot has start_ts=0; an incremental covers
[start_ts, end_ts) with end_ts - start_ts == incremental_duration.
Zero-byte ``.empty`` files are published for windows with no rows
(README.md:11; s3.py:229-232).

The importer reads window coordinates from the names alone:
``windows.plan_windows`` builds the expected names with
``window_file_name``, and each ledger row is parsed back from the file
name with ``parse_parquet_filename``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

# greedy first group, same disambiguation as the reference's pattern:
# for "a-b-c-100-200.parquet" the schema is "a-b" and the table "c"
_FILENAME_RE = re.compile(r"(.+)-(.+)-(\d+)-(\d+)\.(parquet|empty)$")


@dataclass(frozen=True)
class ParquetFileMeta:
    schema_name: str
    table_name: str
    start_timestamp: int
    end_timestamp: int
    empty: bool

    @property
    def is_full(self) -> bool:
        return self.start_timestamp == 0

    @property
    def duration_s(self) -> int:
        return self.end_timestamp - self.start_timestamp


def parse_parquet_filename(path: str) -> ParquetFileMeta:
    """Parse the trailing filename of ``path``. Raises ValueError on
    non-conforming names (same contract as the reference's named groups)."""
    name = path.rsplit("/", 1)[-1]
    m = _FILENAME_RE.match(name)
    if m is None:
        raise ValueError(f"unparseable parquet window filename: {name!r}")
    return ParquetFileMeta(
        schema_name=m.group(1),
        table_name=m.group(2),
        start_timestamp=int(m.group(3)),
        end_timestamp=int(m.group(4)),
        empty=m.group(5) == "empty",
    )


def window_file_name(
    schema_name: str,
    table_name: str,
    start_timestamp: int,
    duration_s: int,
    empty: bool = False,
) -> str:
    ext = "empty" if empty else "parquet"
    return f"{schema_name}-{table_name}-{start_timestamp}-{start_timestamp + duration_s}.{ext}"
