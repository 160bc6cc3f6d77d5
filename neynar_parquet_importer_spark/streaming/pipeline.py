"""Streaming import pipeline: the reference's daemon loop (entry point
3.1) re-expressed on Spark.

Reference behavior being preserved (SURVEY §2.8):
- W1 tumbling file windows: one file per `incremental_duration` window;
- W5 full-then-incremental handoff with ledger-driven resume;
- W4 staleness restart (retention watermark);
- S3 `.empty` sentinels: a ledger row with zero data rows;
- W7 in-order completion: a window is only marked completed when every
  earlier window is;
- W10 sink-as-state: latest-row-per-PK state lives in the sink via the
  recency-guarded upsert, not in an engine state store.

One import path: ``ImportPipeline.run_catchup`` plans the pending
windows, ``import_files`` reads them as ONE distributed scan (filter ->
clean -> upsert), and the ledger then commits them in order. This
replaces the reference's file-at-a-time thread pools; at 100 TB the
backfill is a single parquet scan job whose parallelism is file-splits,
not Python threads. ``daemon.direct_import`` runs the same body on one
file.

The Structured Streaming helpers at the bottom (``streaming_dedup``,
``streaming_enrich``, ``streaming_window_counts``) are analytics over
continuously-arriving files; they write neither the lake nor the ledger.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..filters import compile_filter
from ..functions.json_clean import clean_json_columns
from ..functions.scalars import uuid16_to_string
from ..catalog import TableSpec
from ..sinks.lake_upsert import LakeUpsertSink
from ..sinks.ledger import ImportLedger, LedgerEntry
from ..sources.filenames import parse_parquet_filename, window_file_name
from ..sources.windows import _exists as windows_exists
from ..sources.windows import parquet_rows, plan_windows
from .metrics import (
    MetricsEmitter,
    collect_metrics,
    compute_unit_cost,
    emit_batch_metrics,
)


@dataclass
class ImportReport:
    files_imported: int
    empty_windows: int
    missing_windows: int
    rows_upserted: int
    next_start: int


class ImportPipeline:
    """Per-table pipeline: scan -> dedup -> filter -> clean -> upsert with
    ledger bookkeeping (the fixed operator chain of SURVEY §3)."""

    def __init__(
        self,
        spark: SparkSession,
        spec: TableSpec,
        source_dir: str,
        sink_root: str,
        schema_name: str = "nindexer",
        file_version: str = "v3",
        incremental_duration: int = 1,
        filter_doc: dict | None = None,
        emitter=None,
        cu_metric: str | None = None,
        cost_per_row: float = 0.0,
        publish_eta_offset: float = 1.0,
        poll_interval: float | None = None,
    ) -> None:
        """``publish_eta_offset``/``poll_interval`` parameterize the
        W2 wait cadence: the reference hardcodes "expected publish at
        window start+dur+1, then poll at max(1, dur/10)" because ITS
        exporter lands files on S3 about a second after close
        (main.py:461-501) — those stay the defaults. An exporter that
        publishes at window close onto a cheap-to-probe store (local
        fs, the daemon-soak harness) sets a small offset/interval and
        the importer's end-to-end latency becomes import cost, not the
        other exporter's assumed cadence."""
        self.spark = spark
        self.spec = spec
        self.source_dir = source_dir
        self.schema_name = schema_name
        self.file_version = file_version
        self.duration = incremental_duration
        self.predicate: Column = compile_filter(filter_doc)
        self.filters_active = bool(filter_doc)
        # statsd-shaped metrics seam (reference db.py:918-936); the default
        # is the no-op emitter
        self.emitter = emitter if emitter is not None else MetricsEmitter()
        self.cu_metric = cu_metric
        self.cost_per_row = cost_per_row
        self.publish_eta_offset = publish_eta_offset
        self.poll_interval = poll_interval
        self.sink = LakeUpsertSink(
            spark, f"{sink_root}/{spec.name}", spec.primary_key, spec.version_column
        )
        self.ledger = ImportLedger(f"{sink_root}/{spec.name}/ledger.jsonl")

    # -- the per-batch body (SURVEY §7.1) ------------------------------------
    def transform(self, df: DataFrame) -> DataFrame:
        out = df.filter(self.predicate)
        out = clean_json_columns(out, self.spec.json_columns)
        # v2 JSON-string arrays -> native arrays (db.py:44-51): the cleaned
        # canonical JSON parses with from_json (JVM, codegen) so v2 rows
        # leave the pipeline in the v3 shape
        for name, elem in self.spec.json_array_columns:
            if name in out.columns:
                out = out.withColumn(name, F.from_json(name, f"array<{elem}>"))
        for name in self.spec.uuid_columns:
            if name in out.columns:
                out = out.withColumn(name, uuid16_to_string(name))
        return out

    def run_catchup(
        self,
        start_timestamp: int | None = None,
        end_timestamp: int | None = None,
        now: float | None = None,
        max_age_s: float = 21 * 24 * 3600,
        backfill: bool = False,
        force: bool = False,
    ) -> ImportReport:
        """Import everything pending: full snapshot if state is missing or
        stale (W4/W5), then all published incremental windows, as one job.

        ``force`` re-reads the snapshot and every published window even if
        the ledger marked them completed (the backfill path — the recency
        guard in the sink keeps the re-import idempotent)."""
        now = time.time() if now is None else now
        end_timestamp = int(now) if end_timestamp is None else end_timestamp

        resume = self.ledger.resume_point()
        include_full = force or resume is None or self.ledger.is_stale(now, max_age_s)
        if start_timestamp is None and resume is not None and not include_full:
            start_timestamp = resume
        # start_timestamp=None -> plan_windows derives it: snapshot end if a
        # full exists, else end-aligned 'now' (reference main.py:285-296)

        plan = plan_windows(
            self.source_dir,
            self.schema_name,
            self.spec.name,
            start_timestamp,
            end_timestamp,
            self.duration,
            include_full=include_full,
        )

        # skip files the ledger already committed (idempotent re-run, W6);
        # force mode (backfill) re-imports everything in range
        pending = [
            p
            for p in ([plan.full_path] if plan.full_path else []) + plan.incremental_paths
            if force or not self.ledger.is_completed(p.rsplit("/", 1)[-1])
        ]

        rows = self.import_files(pending, now) if pending else 0

        # ledger: record data files + empty sentinels, then commit in
        # order — one fsync for the whole batch (deferred_sync): at 17-18
        # tables of 1-second windows per host, per-append fsyncs contend
        # on the shared filesystem journal across every importer process
        with self.ledger.deferred_sync():
            names = [p.rsplit("/", 1)[-1] for p in pending] + [
                window_file_name(self.schema_name, self.spec.name, t, self.duration, empty=True)
                for t in plan.empty_windows
            ]
            entries = [self.ledger_entry(n, backfill) for n in names]
            for entry in entries:
                self.ledger.record_file(entry)

            # in-order commit (W7): everything in this batch succeeded
            # together, but completion must never jump an expected-yet-
            # unpublished window — the reference's ordered-futures queue
            # (main.py:303-338) waits on every window and never skips.
            # Windows beyond the first gap ARE upserted (idempotent;
            # they'll be re-read next run) but stay uncommitted so
            # resume_point() cannot advance past the gap: a late-published
            # window is re-planned and imported, not lost.
            min_missing = min(plan.missing_windows, default=None)
            commit_names = [
                e.file_name
                for e in sorted(entries, key=lambda e: e.end_timestamp)
                if min_missing is None or e.end_timestamp <= min_missing
            ]
            self.ledger.advance_completed_through(commit_names, set(commit_names))

        return ImportReport(
            files_imported=len(pending),
            empty_windows=len(plan.empty_windows),
            missing_windows=len(plan.missing_windows),
            rows_upserted=rows,
            next_start=plan.next_start,
        )

    def import_files(self, paths: list[str], now: float) -> int:
        """Scan ``paths`` as one job, ``transform`` them and upsert the
        result; returns the rows kept. Rows kept and the newest version
        are observed on the upsert's own first action (a separate count
        would pay one whole extra scan+transform pass); rows scanned come
        from the files' footers, because an observe between the scan and
        ``transform``'s filter would stop Spark pushing that filter into
        the Parquet scan. Both are emitted through ``self.emitter``."""
        obs = Observation()
        df = self.spark.read.schema(self.spec.schema).parquet(*paths)
        out = self.transform(df).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.max(F.col(self.spec.version_column).cast("double")).alias("max_v"),
        )
        self.sink.upsert(out, epoch=int(now))
        max_v = obs.get["max_v"]
        m = collect_metrics(
            parquet_rows(paths),
            int(obs.get["n"]),
            window_end_ts=float(max(parse_parquet_filename(p).end_timestamp for p in paths)),
            max_updated_at_ts=None if max_v is None else float(max_v),
            now=now,
        )
        cost = compute_unit_cost(m, self.cost_per_row, self.filters_active)
        emit_batch_metrics(self.emitter, m, self.spec.name, cost, self.cu_metric)
        return m.rows_imported

    def ledger_entry(self, file_name: str, backfill: bool = False) -> LedgerEntry:
        """The ledger row for a window file (data or ``.empty``), from its
        name."""
        meta = parse_parquet_filename(file_name)
        return LedgerEntry(
            file_name=file_name,
            file_type="full" if meta.is_full else "incremental",
            file_version=self.file_version,
            file_duration_s=meta.duration_s,
            start_timestamp=meta.start_timestamp,
            end_timestamp=meta.end_timestamp,
            backfill=backfill,
        )

    def run_backfill(
        self,
        start: "object",
        end: "object",
        end_timestamp: int,
        now: float | None = None,
    ) -> ImportReport:
        """Entry point 3.3 (cli/backfill.py): re-import history with the
        inclusive updated_at range predicate (F9) layered on top of the
        table filter; ledger rows are flagged backfill."""
        from ..filters import time_range_filter

        saved = self.predicate
        self.predicate = saved & time_range_filter("updated_at", start, end)
        try:
            # force a fresh pass over the snapshot + every published window
            # (backfill ignores ledger completion). Enumeration starts at the
            # earliest window the ledger has seen (clamped forward to the
            # snapshot's end by plan_windows) — never at epoch 0, which would
            # loop ~1.7e9 windows with real timestamps.
            return self.run_catchup(
                start_timestamp=self.ledger.earliest_start(),
                end_timestamp=end_timestamp,
                now=now,
                backfill=True,
                force=True,
            )
        finally:
            self.predicate = saved

    def wait_for_window(
        self,
        window_start: int,
        now_fn=time.time,
        sleep_fn=time.sleep,
        shutdown: threading.Event | None = None,
        max_wait: float | None = None,
        exit_after_max_wait: bool = False,
    ) -> str | None:
        """W2/W3: block until the window's file (or .empty sentinel) is
        published. Expected publish time is start+dur+1; until then sleep
        the ETA, afterwards poll every max(1, dur/10) s (main.py:461-501).
        Give up after max_wait = max(90, 4*dur) (main.py:299,421-449) —
        warn (return None) or raise if exit_after_max_wait.

        Clock and sleep are injectable so tests don't wait wall-clock.
        """
        dur = self.duration
        max_wait = max(90.0, 4.0 * dur) if max_wait is None else max_wait
        deadline = now_fn() + max_wait
        eta = window_start + dur + self.publish_eta_offset
        fname = window_file_name(self.schema_name, self.spec.name, window_start, dur)
        ename = window_file_name(self.schema_name, self.spec.name, window_start, dur, empty=True)
        while True:
            if shutdown is not None and shutdown.is_set():
                raise InterruptedError("shutdown requested")  # W9 fencing
            for name in (fname, ename):
                path = f"{self.source_dir.rstrip('/')}/{name}"
                if windows_exists(path):  # object-store-aware probe
                    return path
            now = now_fn()
            if now >= deadline:
                if exit_after_max_wait:
                    raise TimeoutError(
                        f"window {window_start} not published after {max_wait}s"
                    )
                return None
            # before the ETA: one sleep straight to it (no point probing a
            # window that cannot exist yet); after: poll at max(1, dur/10)
            # — the previous min()-form collapsed to a fixed 1 s poll the
            # moment now >= eta (min(poll, 0) or 1), hammering the object
            # store with dur/10-fold more HEAD probes than documented.
            # Naps are capped at the deadline, and with a shutdown Event +
            # the default wall-clock sleep we wait ON the event (it wakes
            # instantly when set) so W9 fencing stays responsive during
            # the potentially hours-long pre-ETA wait — the reference
            # sleeps via SHUTDOWN_EVENT.wait too (main.py:461-501).
            # An injected sleep_fn (tests' fake clocks) is still honored.
            poll = (
                self.poll_interval
                if self.poll_interval is not None
                else max(1.0, dur / 10.0)
            )
            nap = (eta - now) if now < eta else poll
            nap = min(nap, max(0.0, deadline - now))
            if shutdown is not None and sleep_fn is time.sleep:
                shutdown.wait(nap)
            else:
                sleep_fn(nap)


def streaming_dedup(
    spark: SparkSession,
    source_dir: str,
    schema,
    id_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """In-stream dedup (D1/D2's streaming form): drop rows whose key was
    already seen within the watermark horizon. State is bounded — the
    watermark expires old keys — so this scales to unbounded streams;
    duplicates that recur BEYOND the horizon are the sink upsert's job
    (the recency-guarded MERGE stays idempotent across any horizon)."""
    id_cols = id_cols or ["event_id"]
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        id_cols
    )


def streaming_enrich(stream_df: DataFrame, dim_df: DataFrame, on: list[str]) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (broadcast) static dimension — no stream-side state, the standard
    pattern for decorating an event stream with slowly-changing reference
    data (re-read per batch if the dim is a table that updates)."""
    return stream_df.join(F.broadcast(dim_df), on=on, how="left")


def streaming_window_counts(
    spark: SparkSession,
    source_dir: str,
    schema,
    ts_col: str = "timestamp",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Structured Streaming tumbling-window aggregate over a directory of
    arriving parquet files — the W1 windows + W3 late-data story on
    Spark's own primitives (watermark instead of max_wait polling)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration))
        .count()
    )
