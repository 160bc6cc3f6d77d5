"""Daemon-loop tests (reference entry points 3.1/3.2): fake-clock runs
driving windows that arrive late and out of order, asserting the ledger
ends complete and strictly in order; plus single-file direct import."""

from __future__ import annotations

import datetime
import os
import threading

from pyspark.sql import types as T

from neynar_parquet_importer_spark.catalog import TableSpec
from neynar_parquet_importer_spark.sources import window_file_name
from neynar_parquet_importer_spark.streaming import ImportPipeline
from neynar_parquet_importer_spark.streaming.daemon import (
    direct_import,
    run_forever,
)

SPEC = TableSpec(
    name="follows",
    schema=T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("fid", T.LongType()),
            T.StructField("target_fid", T.LongType()),
            T.StructField("updated_at", T.TimestampType()),
        ]
    ),
    primary_key=("id",),
)


def _ts(s: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)


def _write_window(spark, directory, start, end, rows, full=False):
    name = window_file_name("nindexer", "follows", start if not full else 0, end - start if not full else end)
    if full:
        name = f"nindexer-follows-0-{end}.parquet"
    df = spark.createDataFrame(rows, SPEC.schema)
    tmp = os.path.join(directory, "_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    os.replace(os.path.join(tmp, part), os.path.join(directory, name))


class FakeClock:
    """Deterministic clock: sleeping advances time and fires scheduled
    publication events (the out-of-order window arrivals)."""

    def __init__(self, start: float, events: list[tuple[float, object]]):
        self.t = float(start)
        self._events = sorted(events, key=lambda e: e[0])

    def now(self) -> float:
        self._fire()
        return self.t

    def sleep(self, s: float) -> None:
        self.t += max(float(s), 1.0)
        self._fire()

    def _fire(self) -> None:
        while self._events and self._events[0][0] <= self.t:
            self._events.pop(0)[1]()


def test_daemon_imports_out_of_order_windows_in_order(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    # published before the daemon starts: full snapshot [0,100) and
    # windows 100-110 and 120-130 — with 110-120 NOT yet published (a gap)
    _write_window(spark, src, 0, 100, [("a", 1, 2, _ts(50))], full=True)
    _write_window(spark, src, 100, 110, [("b", 3, 4, _ts(105))])
    _write_window(spark, src, 120, 130, [("c", 5, 6, _ts(125))])

    def publish_110():
        _write_window(spark, src, 110, 120, [("d", 7, 8, _ts(115))])

    def publish_140_empty():
        open(os.path.join(src, window_file_name("nindexer", "follows", 130, 10, empty=True)), "w").close()

    def publish_140_150():
        _write_window(spark, src, 140, 150, [("e", 9, 10, _ts(145))])

    clock = FakeClock(
        132.0,
        [(139.0, publish_140_empty), (140.0, publish_110), (151.0, publish_140_150)],
    )
    pipe = ImportPipeline(
        spark, SPEC, src, str(tmp_path / "lake"), incremental_duration=10
    )
    report = run_forever(
        pipe, now_fn=clock.now, sleep_fn=clock.sleep, max_iterations=3
    )
    assert report.stopped_by == "max_iterations"

    # the gap window was imported once it arrived; nothing was skipped
    assert pipe.ledger.resume_point() == 150
    for name in [
        "nindexer-follows-0-100.parquet",
        "nindexer-follows-100-110.parquet",
        "nindexer-follows-110-120.parquet",
        "nindexer-follows-120-130.parquet",
        "nindexer-follows-130-140.empty",
        "nindexer-follows-140-150.parquet",
    ]:
        assert pipe.ledger.is_completed(name), f"{name} not completed"
    ids = {r.id for r in pipe.sink.read().collect()}
    assert ids == {"a", "b", "c", "d", "e"}


def test_daemon_holds_ledger_at_gap_until_late_publish(spark, tmp_path):
    """Mid-flight invariant: with window 110-120 missing, data beyond the
    gap is imported (idempotent) but completion never advances past the
    gap, so a restart re-plans from 110 — no data loss."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_window(spark, src, 0, 100, [("a", 1, 2, _ts(50))], full=True)
    _write_window(spark, src, 100, 110, [("b", 3, 4, _ts(105))])
    _write_window(spark, src, 120, 130, [("c", 5, 6, _ts(125))])
    pipe = ImportPipeline(
        spark, SPEC, src, str(tmp_path / "lake"), incremental_duration=10
    )
    report = pipe.run_catchup(end_timestamp=130, now=132.0)
    assert report.missing_windows == 1
    assert pipe.ledger.resume_point() == 110  # held at the gap
    assert pipe.ledger.is_completed("nindexer-follows-100-110.parquet")
    assert not pipe.ledger.is_completed("nindexer-follows-120-130.parquet")
    # beyond-gap data IS visible in the sink (idempotent re-read later)
    assert {r.id for r in pipe.sink.read().collect()} == {"a", "b", "c"}


def test_daemon_shutdown_fencing(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_window(spark, src, 0, 100, [("a", 1, 2, _ts(50))], full=True)
    stop = threading.Event()
    stop.set()
    pipe = ImportPipeline(
        spark, SPEC, src, str(tmp_path / "lake"), incremental_duration=10
    )
    clock = FakeClock(100.0, [])
    report = run_forever(pipe, shutdown=stop, now_fn=clock.now, sleep_fn=clock.sleep)
    assert report.stopped_by == "shutdown"
    assert report.iterations == 0


def test_direct_import_single_file(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_window(spark, src, 100, 110, [("x", 1, 2, _ts(105))])
    path = os.path.join(src, "nindexer-follows-100-110.parquet")
    report = direct_import(
        spark, path, str(tmp_path / "lake"), spec=SPEC
    )
    assert report.files_imported == 1 and report.rows_upserted == 1
    from neynar_parquet_importer_spark.sinks.lake_upsert import LakeUpsertSink

    sink = LakeUpsertSink(
        spark, str(tmp_path / "lake" / "follows"), SPEC.primary_key, SPEC.version_column
    )
    assert {r.id for r in sink.read().collect()} == {"x"}


def test_direct_import_counts_kept_rows_and_commits(spark, tmp_path):
    """direct_import runs the catch-up import body: under a filter the
    report counts the rows kept, not the rows scanned, and the file is
    recorded and committed in the table's ledger."""
    from neynar_parquet_importer_spark.sinks.ledger import ImportLedger

    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_window(spark, src, 100, 110, [("x", 1, 2, _ts(105)), ("y", 20, 3, _ts(106))])
    name = "nindexer-follows-100-110.parquet"
    lake = str(tmp_path / "lake")
    report = direct_import(
        spark, os.path.join(src, name), lake, spec=SPEC, filter_doc={"data.fid": {"$lt": 12}}
    )
    assert report.files_imported == 1 and report.rows_upserted == 1
    ledger = ImportLedger(os.path.join(lake, "follows", "ledger.jsonl"))
    assert ledger.is_completed(name)
    pipe = ImportPipeline(spark, SPEC, src, lake)
    assert {r.id for r in pipe.sink.read().collect()} == {"x"}


def test_spec_for_file_resolves_catalog_tables():
    from neynar_parquet_importer_spark.streaming.daemon import spec_for_file

    spec = spec_for_file("/data/nindexer-follows-0-1744320248.parquet")
    assert spec.name == "follows" and spec.uuid_columns == ("id",)
    v2 = spec_for_file("/data/farcaster-casts-1000-1300.parquet")
    assert v2.name == "casts" and ("mentions", "bigint") in v2.json_array_columns


def test_run_tables_forever_multi_table(spark, tmp_path):
    """Thread-per-table orchestration: both tables' loops run and report
    independently under a shared session."""
    from neynar_parquet_importer_spark.streaming.daemon import run_tables_forever

    pipes = []
    for name in ("follows", "casts"):
        spec = TableSpec(name=name, schema=SPEC.schema, primary_key=("id",))
        src = str(tmp_path / f"src_{name}")
        os.makedirs(src)
        df = spark.createDataFrame([("a", 1, 2, _ts(50))], SPEC.schema)
        tmp = os.path.join(src, "_tmp")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.replace(os.path.join(tmp, part), os.path.join(src, f"nindexer-{name}-0-100.parquet"))
        pipes.append(
            ImportPipeline(spark, spec, src, str(tmp_path / "lake"), incremental_duration=10)
        )
    reports = run_tables_forever(
        pipes,
        now_fn=lambda: 100.0,
        sleep_fn=lambda s: None,
        max_iterations=1,
    )
    assert set(reports) == {"follows", "casts"}
    for name, rep in reports.items():
        assert rep.stopped_by == "max_iterations", name
        assert rep.files_imported == 1, name
    # the tiny-window daemon knob (round-9 soak finding): pins the
    # shared session's shuffle width for the daemon's lifetime —
    # measured p99 9.4s -> 1.6s at the reference's 18-table topology
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        run_tables_forever(
            pipes,
            now_fn=lambda: 100.0,
            sleep_fn=lambda s: None,
            max_iterations=1,
            shuffle_partitions=4,
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_daemon_long_horizon_two_staleness_restarts(spark, tmp_path):
    """W4/W5 rehearsal across TWO retention-horizon breaches: each cycle
    the daemon (restarted as a fresh process — new pipeline over the
    persisted ledger) detects stale state, re-imports from the NEWEST
    full snapshot (lexicographic-max selection), skips windows the new
    snapshot subsumes, and hands off to incrementals — after which the
    ledger prefers the newest completed incremental as the resume point
    (reference main.py:132-297)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    lake = str(tmp_path / "lake")
    max_age = 100.0

    def pipe():
        # a NEW pipeline per phase = daemon process restart; the ledger
        # reloads from the lake's jsonl
        return ImportPipeline(spark, SPEC, src, lake, incremental_duration=10)

    # ---- epoch 1: snapshot A + two incrementals --------------------------
    _write_window(spark, src, 0, 100, [("a", 1, 2, _ts(50))], full=True)
    _write_window(spark, src, 100, 110, [("b", 3, 4, _ts(105))])
    _write_window(spark, src, 110, 120, [("c", 5, 6, _ts(115))])
    clock = FakeClock(122.0, [])
    p1 = pipe()
    run_forever(p1, now_fn=clock.now, sleep_fn=clock.sleep,
                max_iterations=1, max_age_s=max_age)
    assert p1.ledger.resume_point() == 120

    # windows published during the outage (the daemon is down; the new
    # snapshot will subsume them — they must never be imported directly)
    _write_window(spark, src, 120, 130, [("x", 90, 91, _ts(125))])

    # ---- outage 1: now - 120 > max_age; snapshot B appears ---------------
    _write_window(spark, src, 0, 1000, [("d", 7, 8, _ts(950)), ("b", 3, 4, _ts(105))], full=True)
    _write_window(spark, src, 1000, 1010, [("e", 9, 10, _ts(1005))])

    def publish_1010():
        _write_window(spark, src, 1010, 1020, [("f", 11, 12, _ts(1015))])

    clock = FakeClock(1012.0, [(1021.0, publish_1010)])
    p2 = pipe()
    run_forever(p2, now_fn=clock.now, sleep_fn=clock.sleep,
                max_iterations=2, max_age_s=max_age)
    # re-snapshot happened from B (not A), handoff to B's incrementals
    assert p2.ledger.is_completed("nindexer-follows-0-1000.parquet")
    assert p2.ledger.is_completed("nindexer-follows-1000-1010.parquet")
    assert p2.ledger.is_completed("nindexer-follows-1010-1020.parquet")
    # the outage window was subsumed by B, never imported on its own
    assert not p2.ledger.is_completed("nindexer-follows-120-130.parquet")
    # ledger prefers the newest completed INCREMENTAL over the full's end
    assert p2.ledger.newest_full().end_timestamp == 1000
    assert p2.ledger.resume_point() == 1020

    # ---- outage 2: stale again; snapshot C appears -----------------------
    _write_window(spark, src, 0, 2000, [("g", 13, 14, _ts(1950))], full=True)
    _write_window(spark, src, 2000, 2010, [("h", 15, 16, _ts(2005))])
    clock = FakeClock(2012.0, [])
    p3 = pipe()
    run_forever(p3, now_fn=clock.now, sleep_fn=clock.sleep,
                max_iterations=1, max_age_s=max_age)
    assert p3.ledger.is_completed("nindexer-follows-0-2000.parquet")
    assert p3.ledger.newest_full().end_timestamp == 2000
    assert p3.ledger.resume_point() == 2010

    # every epoch's rows are in the sink (upserts are recency-guarded, so
    # snapshot B re-stating row b did not regress it)
    ids = {r.id for r in p3.sink.read().collect()}
    assert {"a", "b", "c", "d", "e", "f", "g", "h"} <= ids

    # a quiet restart with FRESH state (no staleness): no re-snapshot,
    # resume from the newest completed incremental
    clock = FakeClock(2014.0, [])
    p4 = pipe()
    r4 = run_forever(p4, now_fn=clock.now, sleep_fn=clock.sleep,
                     max_iterations=1, max_age_s=max_age)
    assert r4.files_imported == 0
    assert p4.ledger.resume_point() == 2010
