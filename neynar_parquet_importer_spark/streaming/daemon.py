"""Continuous import daemon (reference entry point 3.1) and single-file
direct import (entry point 3.2).

The reference's ``sync_parquet_to_db`` (main.py:240-372) runs one loop per
table forever: import the full snapshot if state is missing/stale, then
walk incremental windows — spawning a download+import future per window,
committing tracking rows strictly in order (the ordered-futures queue,
main.py:303-338), and waiting ``max(90, 4*duration)`` for a window before
giving up (main.py:299).

Spark mapping: each iteration is one idempotent ``run_catchup`` (a single
distributed scan over every pending published window — catch-up after
downtime is one job, not N sequential imports) followed by a blocking
``wait_for_window`` on the next expected window. In-order completion and
never-skip-a-gap are enforced inside run_catchup's ledger commit (W7), so
the loop body stays thin. One thread per table mirrors the reference's
per-table executors; Spark schedules the concurrent jobs.

``direct_import`` is cli/direct_import.py: parse the table from the
filename, import that one file, mark it completed.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession

from ..catalog import ALL_TABLES, TableSpec
from ..sources.filenames import parse_parquet_filename
from .pipeline import ImportPipeline, ImportReport


@dataclass
class DaemonReport:
    """Terminal state of one table's daemon loop."""

    iterations: int
    files_imported: int
    rows_upserted: int
    stopped_by: str  # 'shutdown' | 'max_iterations' | 'window_timeout'


def run_forever(
    pipe: ImportPipeline,
    shutdown: threading.Event | None = None,
    now_fn=time.time,
    sleep_fn=time.sleep,
    max_iterations: int | None = None,
    exit_after_max_wait: bool = False,
    max_age_s: float | None = None,
) -> DaemonReport:
    """The per-table daemon loop.

    Each iteration: catch up on everything published (full snapshot if
    needed + all pending windows, one scan), then block until the next
    expected window (or the earliest *missing* one — a gap holds the
    ledger, W7) is published. A window that never arrives within
    ``max(90, 4*duration)`` stops the loop like the reference's
    ShuttingDown path (main.py:311-313) unless ``exit_after_max_wait``
    raises instead; a supervisor restart then re-plans from the ledger.

    Clock and sleep are injectable so tests drive publication schedules
    deterministically (including out-of-order arrivals). ``max_age_s`` is
    the W4 retention horizon handed to every catch-up: state older than
    it triggers a fresh-snapshot restart (reference main.py:157-169);
    None defers to ``run_catchup``'s default so the 21-day figure has a
    single source of truth.
    """
    iterations = files = rows = 0
    stopped_by = "max_iterations"
    while True:
        if shutdown is not None and shutdown.is_set():
            stopped_by = "shutdown"
            break
        now = now_fn()
        end = int(now) // pipe.duration * pipe.duration
        extra = {} if max_age_s is None else {"max_age_s": max_age_s}
        report: ImportReport = pipe.run_catchup(
            end_timestamp=end, now=now, **extra
        )
        iterations += 1
        files += report.files_imported
        rows += report.rows_upserted
        if max_iterations is not None and iterations >= max_iterations:
            break
        # A gap (expected-but-unpublished window) gates the ledger; wait on
        # the earliest gap first so a late publisher unblocks progress.
        # Otherwise wait for the not-yet-due next window.
        resume = pipe.ledger.resume_point()
        wait_start = resume if resume is not None else report.next_start
        try:
            published = pipe.wait_for_window(
                wait_start,
                now_fn=now_fn,
                sleep_fn=sleep_fn,
                shutdown=shutdown,
                exit_after_max_wait=exit_after_max_wait,
            )
        except InterruptedError:
            stopped_by = "shutdown"
            break
        if published is None:
            stopped_by = "window_timeout"
            break
    return DaemonReport(iterations, files, rows, stopped_by)


def run_tables_forever(
    pipelines: list[ImportPipeline],
    shutdown: threading.Event | None = None,
    shuffle_partitions: int | None = None,
    **kwargs,
) -> dict[str, DaemonReport]:
    """One daemon thread per table (reference main.py:154-238's per-table
    sync threads). Threads share the SparkSession; each submits its own
    jobs and the Spark scheduler interleaves them.

    ``shuffle_partitions``: per-window import jobs move a window's worth
    of rows, not a corpus — at the reference's real topology (17-18
    tables of 1-second windows in one process, main.py:46-89) the
    analytics default of 32-way shuffles is pure task-scheduling
    overhead multiplied by every concurrent table, and MEASURED it is
    the difference between steady-state p99 9.4s and 1.6s at 18 tables
    (BENCH_SCALING.checks.daemon_soak_18t). Setting it pins
    ``spark.sql.shuffle.partitions`` on the shared session for the
    daemon's lifetime — the daemon process owns its session in the
    reference deployment, so the conf is the daemon's to set; leave it
    None when the session is shared with analytics queries.

    Daemon-session conf notes (measured, round 10): a session built for
    a window daemon should also stretch
    ``spark.cleaner.periodicGC.interval`` (session.py's 5-min default
    serves long analytics sequences; the forced Full GC pauses ~1s and
    put an 8-11s latency bump across every table at the 5-min mark of
    the 18-table soak — window debris is tiny, so 30min+ is safe and
    the pause then lands on ~0.06% of 1-second windows). At >8-12
    tables of 1-second windows per driver, scale OUT with processes
    (the reference's own deployment shape): the sharded soak
    (scale_study.daemon_soak_sharded_checks) measures 18 tables across
    3 sessions at steady p99 0.99s, crash included
    (checks.daemon_soak_18t_sharded)."""
    if shuffle_partitions is not None and pipelines:
        pipelines[0].spark.conf.set(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    reports: dict[str, DaemonReport] = {}

    def work(p: ImportPipeline) -> None:
        reports[p.spec.name] = run_forever(p, shutdown=shutdown, **kwargs)

    threads = [
        threading.Thread(target=work, args=(p,), name=f"import-{p.spec.name}")
        for p in pipelines
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return reports


def spec_for_file(path: str) -> TableSpec:
    """Resolve the TableSpec from a window filename's schema/table parts
    (cli/direct_import.py:33-53's table lookup, against the declared
    catalog instead of reflected Postgres tables)."""
    meta = parse_parquet_filename(path)
    for (_bucket, schema_name), tables in ALL_TABLES.items():
        if schema_name == meta.schema_name and meta.table_name in tables:
            return tables[meta.table_name]
    raise KeyError(
        f"table {meta.table_name!r} not found in schema {meta.schema_name!r}"
    )


def direct_import(
    spark: SparkSession,
    path: str,
    sink_root: str,
    spec: TableSpec | None = None,
    filter_doc: dict | None = None,
) -> ImportReport:
    """Entry point 3.2: import ONE known parquet file into the sink and
    mark it completed. The table comes from the filename; the ledger row
    is recorded like any window but completion is committed directly (a
    direct import is an operator override, not part of the in-order
    stream)."""
    meta = parse_parquet_filename(path)
    if spec is None:
        spec = spec_for_file(path)
    source_dir = os.path.dirname(path) or "."
    pipe = ImportPipeline(
        spark,
        spec,
        source_dir,
        sink_root,
        schema_name=meta.schema_name,
        incremental_duration=meta.duration_s or 1,
        filter_doc=filter_doc,
    )
    rows = pipe.import_files([path], time.time())
    name = path.rsplit("/", 1)[-1]
    pipe.ledger.record_file(pipe.ledger_entry(name))
    pipe.ledger.advance_completed_through([name], {name})
    return ImportReport(
        files_imported=1,
        empty_windows=0,
        missing_windows=0,
        rows_upserted=rows,
        next_start=meta.end_timestamp,
    )
