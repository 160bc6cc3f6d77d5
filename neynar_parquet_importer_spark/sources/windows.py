"""Window planning & discovery (reference S4-S6, W1/W4/W5).

The reference walks time forward one `incremental_duration` window at a
time, fetching `{schema}-{table}-{start}-{start+dur}` from S3
(s3.py:163-245) after an initial "full" snapshot chosen as the
lexicographic-max key (s3.py:94-160), restarting from a fresh snapshot
when local state is older than the retention horizon (main.py:157-169).

Spark-side, discovery is driver-side listing (cheap: one listing per
trigger, no data movement) and the *read* is a single
``spark.read.parquet(paths...)`` over all selected windows — the engine
reads N window files as one distributed scan instead of N sequential
imports, which is the main structural speedup over the reference at
backfill time.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from .filenames import parse_parquet_filename, window_file_name


@dataclass(frozen=True)
class WindowPlan:
    """One catch-up plan: full snapshot (optional) + incremental windows
    (present files), with expected-but-missing and empty windows called out
    (the reference's W2/W3 arrival-tracking surface)."""

    full_path: str | None
    incremental_paths: list[str]
    empty_windows: list[int]
    missing_windows: list[int]
    next_start: int


def _is_uri(path: str) -> bool:
    return "://" in path


def _hadoop_fs(path: str):
    """Hadoop FileSystem handle for a URI (s3a://, hdfs://, file://...).
    The reference is S3-native via boto3 (s3.py:94-245); here any
    Hadoop-supported scheme works through the same seam the executors use
    for the actual reads, so listing and reading share credentials/config
    (fs.s3a.* keys on the active session)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(f"no active SparkSession to resolve {path!r}")
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm


def _listing(directory: str) -> list[str]:
    if _is_uri(directory):
        fs, jvm = _hadoop_fs(directory)
        jdir = jvm.org.apache.hadoop.fs.Path(directory)
        if not fs.exists(jdir):
            return []
        return sorted(s.getPath().getName() for s in fs.listStatus(jdir))
    try:
        return sorted(os.listdir(directory))
    except FileNotFoundError:
        return []


def _exists(path: str) -> bool:
    if _is_uri(path):
        fs, jvm = _hadoop_fs(path)
        return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(path)))
    return os.path.exists(path)


def _size(path: str) -> int:
    if _is_uri(path):
        fs, jvm = _hadoop_fs(path)
        return int(fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(path)).getLen())
    return os.path.getsize(path)


def parquet_rows(paths: list[str]) -> int:
    """Rows in the Parquet files at ``paths``, read from their footers
    alone (no Spark job)."""
    n = 0
    for path in paths:
        if _is_uri(path):
            fs, jvm = _hadoop_fs(path)
            jfile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                jvm.org.apache.hadoop.fs.Path(path), fs.getConf()
            )
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(jfile)
            try:
                n += int(reader.getRecordCount())
            finally:
                reader.close()
        else:
            import pyarrow.parquet as pq

            n += pq.read_metadata(path).num_rows
    return n


def discover_latest_full(directory: str, schema_name: str, table_name: str) -> str | None:
    """S4: newest full snapshot = lexicographic max among start_ts=0 files
    (s3.py:118-124's max-key rule; lexicographic==numeric for equal-width
    epoch timestamps)."""
    best: str | None = None
    for name in _listing(directory):
        try:
            meta = parse_parquet_filename(name)
        except ValueError:
            continue
        if meta.schema_name == schema_name and meta.table_name == table_name and meta.is_full and not meta.empty:
            if best is None or name > best:
                best = name
    return os.path.join(directory, best) if best else None


def plan_windows(
    directory: str,
    schema_name: str,
    table_name: str,
    start_timestamp: int | None,
    end_timestamp: int,
    duration_s: int,
    include_full: bool = True,
) -> WindowPlan:
    """Enumerate expected windows in [start, end) aligned to
    ``ts // dur * dur`` (main.py:286-291) and classify each as present /
    empty-sentinel / missing.

    ``start_timestamp=None`` means "no prior state": incremental
    enumeration begins at the selected snapshot's end_timestamp (the
    reference's next_start_timestamp rule, main.py:285-296) — never at
    epoch 0, which with real timestamps would both loop ~1.7e9 windows and
    misclassify every pre-snapshot window as missing. With no snapshot
    published either, enumeration starts end-aligned at ``end_timestamp``
    (the reference's 'NOW' fallback). An explicit start is honored but
    still clamped forward to the snapshot's end — windows before the
    snapshot are *inside* it."""
    full_path = discover_latest_full(directory, schema_name, table_name) if include_full else None
    full_end: int | None = None
    if full_path is not None:
        full_end = parse_parquet_filename(full_path.rsplit("/", 1)[-1]).end_timestamp
    if start_timestamp is None:
        start_timestamp = full_end if full_end is not None else end_timestamp
    elif full_end is not None:
        start_timestamp = max(start_timestamp, full_end)
    aligned = start_timestamp // duration_s * duration_s
    present: list[str] = []
    empty: list[int] = []
    missing: list[int] = []
    t = aligned
    while t < end_timestamp:
        fname = window_file_name(schema_name, table_name, t, duration_s)
        ename = window_file_name(schema_name, table_name, t, duration_s, empty=True)
        fpath = f"{directory.rstrip('/')}/{fname}"
        epath = f"{directory.rstrip('/')}/{ename}"
        if _exists(fpath) and _size(fpath) > 0:
            present.append(fpath)
        elif _exists(epath):
            empty.append(t)  # S3 .empty sentinel: ledger row, zero rows
        else:
            missing.append(t)  # W2/W3: not yet published
        t += duration_s
    return WindowPlan(
        full_path=full_path,
        incremental_paths=present,
        empty_windows=empty,
        missing_windows=missing,
        next_start=t,
    )
