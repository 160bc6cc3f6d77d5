"""End-to-end window-file import pipeline tests: full+incremental
handoff, .empty sentinels, idempotent re-run, filters, resume — the
reference's test_parquet_direct.py scenarios on the lake sink."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import types as T

from neynar_parquet_importer_spark.catalog import TableSpec
from neynar_parquet_importer_spark.sources import parse_parquet_filename, window_file_name
from neynar_parquet_importer_spark.sources.windows import parquet_rows, plan_windows
from neynar_parquet_importer_spark.streaming import ImportPipeline

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


def _write_window(spark, directory, start, dur, rows):
    name = window_file_name("nindexer", "follows", start, dur)
    df = spark.createDataFrame(rows, SPEC.schema)
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(directory, "_tmp"))
    # single-file window like the reference's exports
    part = [f for f in os.listdir(os.path.join(directory, "_tmp")) if f.endswith(".parquet")][0]
    os.replace(os.path.join(directory, "_tmp", part), os.path.join(directory, name))


def _ts(s: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)


def _row(i, fid, target, s):
    return (f"id-{i}", fid, target, _ts(s))


def test_filename_roundtrip():
    meta = parse_parquet_filename("/x/nindexer-follows-100-101.parquet")
    assert (meta.schema_name, meta.table_name) == ("nindexer", "follows")
    assert (meta.start_timestamp, meta.end_timestamp) == (100, 101)
    assert not meta.empty and not meta.is_full
    empty = parse_parquet_filename("a-b-c-5-10.empty")
    assert empty.empty and (empty.schema_name, empty.table_name) == ("a-b", "c")
    with pytest.raises(ValueError):
        parse_parquet_filename("nonsense.txt")


def test_plan_windows_classification(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_window(spark, src, 0, 100, [_row(1, 10, 20, 50)])  # full (start=0)
    _write_window(spark, src, 100, 1, [_row(2, 11, 21, 100)])
    open(os.path.join(src, window_file_name("nindexer", "follows", 101, 1, empty=True)), "w").close()
    plan = plan_windows(src, "nindexer", "follows", 100, 103, 1)
    assert plan.full_path and plan.full_path.endswith("nindexer-follows-0-100.parquet")
    assert len(plan.incremental_paths) == 1
    assert plan.empty_windows == [101]
    assert plan.missing_windows == [102]
    assert plan.next_start == 103


@pytest.fixture()
def pipeline_env(spark, tmp_path):
    src = str(tmp_path / "src")
    sink_root = str(tmp_path / "lake")
    os.makedirs(src)
    _write_window(spark, src, 0, 1000, [_row(1, 10, 20, 500), _row(2, 11, 21, 600)])
    _write_window(spark, src, 1000, 1, [_row(2, 11, 99, 1000), _row(3, 12, 22, 1000)])
    open(os.path.join(src, window_file_name("nindexer", "follows", 1001, 1, empty=True)), "w").close()
    pipe = ImportPipeline(
        spark, SPEC, src, sink_root, incremental_duration=1
    )
    return pipe, src


def test_catchup_full_then_incremental(pipeline_env):
    pipe, src = pipeline_env
    report = pipe.run_catchup(end_timestamp=1002, now=1002)
    assert report.files_imported == 2
    assert report.empty_windows == 1
    state = {r.id: r.target_fid for r in pipe.sink.read().collect()}
    # id-2 was updated by the incremental window (newer updated_at)
    assert state == {"id-1": 20, "id-2": 99, "id-3": 22}
    assert pipe.ledger.is_completed("nindexer-follows-0-1000.parquet")
    assert pipe.ledger.is_completed("nindexer-follows-1000-1001.parquet")
    assert pipe.ledger.is_completed("nindexer-follows-1001-1002.empty")


def test_catchup_idempotent_rerun(pipeline_env):
    pipe, src = pipeline_env
    pipe.run_catchup(end_timestamp=1002, now=1002)
    first = sorted((r.id, r.target_fid) for r in pipe.sink.read().collect())
    report2 = pipe.run_catchup(end_timestamp=1002, now=1002)
    assert report2.files_imported == 0  # ledger short-circuits completed files
    assert sorted((r.id, r.target_fid) for r in pipe.sink.read().collect()) == first


def test_catchup_picks_up_new_window(pipeline_env, spark):
    pipe, src = pipeline_env
    pipe.run_catchup(end_timestamp=1002, now=1002)
    _write_window(spark, src, 1002, 1, [_row(4, 13, 23, 1002)])
    report = pipe.run_catchup(end_timestamp=1003, now=1003)
    assert report.files_imported == 1
    assert pipe.sink.read().count() == 4


def test_catchup_never_commits_past_missing_window(pipeline_env, spark):
    """W7: an expected-but-unpublished window blocks completion of every
    later window — a late-published window is imported on a later run, not
    permanently skipped (the reference's ordered-futures guarantee)."""
    pipe, src = pipeline_env
    # windows: 1000 present, 1001 empty, 1002 MISSING, 1003 present
    _write_window(spark, src, 1003, 1, [_row(7, 17, 27, 1003)])
    pipe.run_catchup(end_timestamp=1004, now=1004)

    # data beyond the gap is upserted (idempotent)...
    assert pipe.sink.read().filter("id = 'id-7'").count() == 1
    # ...but completion stops at the gap, so resume cannot jump it
    assert pipe.ledger.is_completed("nindexer-follows-1000-1001.parquet")
    assert pipe.ledger.is_completed("nindexer-follows-1001-1002.empty")
    assert not pipe.ledger.is_completed("nindexer-follows-1003-1004.parquet")
    assert pipe.ledger.resume_point() == 1002

    # the gap window arrives late -> next run imports it and commits through
    _write_window(spark, src, 1002, 1, [_row(8, 18, 28, 1002)])
    pipe.run_catchup(end_timestamp=1004, now=1004)
    assert pipe.sink.read().filter("id = 'id-8'").count() == 1
    assert pipe.ledger.is_completed("nindexer-follows-1002-1003.parquet")
    assert pipe.ledger.is_completed("nindexer-follows-1003-1004.parquet")
    assert pipe.ledger.resume_point() == 1004


def test_plan_windows_starts_at_snapshot_end(spark, tmp_path):
    """Fresh state never enumerates from epoch 0: incrementals begin at the
    full snapshot's end_timestamp (or 'now' when no snapshot exists)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_window(spark, src, 0, 1_700_000_000, [_row(1, 10, 20, 50)])
    plan = plan_windows(src, "nindexer", "follows", None, 1_700_000_005, 1)
    assert plan.full_path is not None
    assert plan.missing_windows == [1_700_000_000 + i for i in range(5)]
    # no snapshot at all -> NOW fallback: nothing enumerated
    empty_src = str(tmp_path / "empty")
    os.makedirs(empty_src)
    plan2 = plan_windows(empty_src, "nindexer", "follows", None, 1_700_000_005, 1)
    assert plan2.full_path is None
    assert plan2.missing_windows == [] and plan2.incremental_paths == []


def test_pipeline_filter_dsl(spark, tmp_path):
    src = str(tmp_path / "src2")
    os.makedirs(src)
    _write_window(spark, src, 0, 100, [_row(1, 10, 20, 50), _row(2, 999, 21, 60)])
    pipe = ImportPipeline(
        spark, SPEC, src, str(tmp_path / "lake2"),
        incremental_duration=1,
        filter_doc={"data.fid": {"$in": [10]}},
    )
    pipe.run_catchup(end_timestamp=100, now=100)
    assert [r.id for r in pipe.sink.read().collect()] == ["id-1"]


def test_filtered_import_pushes_the_filter_into_the_scan(spark, tmp_path):
    """Spark pushes no filter below an ``observe``, so counting rows
    scanned between the scan and the ingest filter would drop the scan's
    pushed filters (Parquet row-group skipping). The import counts them
    from the footers and keeps the filter on the scan."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_window(spark, src, 100, 1, [_row(1, 10, 20, 5), _row(2, 999, 21, 6)])
    pipe = ImportPipeline(
        spark, SPEC, src, str(tmp_path / "lake"), filter_doc={"data.fid": {"$lt": 12}}
    )
    plans = []
    upsert = pipe.sink.upsert

    def capture(df, epoch=0):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        upsert(df, epoch=epoch)

    pipe.sink.upsert = capture
    report = pipe.run_catchup(start_timestamp=100, end_timestamp=101, now=101)
    assert report.rows_upserted == 1
    (scan,) = [line for line in plans[0].splitlines() if "FileScan" in line]
    assert "LessThan(fid,12)" in scan


def test_v2_json_string_array_import(spark, tmp_path):
    """The v2 quirk (db.py:44-51): array columns arrive as JSON strings
    (including historical Python-repr payloads). The pipeline must emit
    native arrays (the v3 shape) and canonical JSON for jsonb columns."""
    from neynar_parquet_importer_spark.catalog import REFERENCE_TABLES_V2

    spec = REFERENCE_TABLES_V2["casts"]
    src = str(tmp_path / "v2src")
    os.makedirs(src)
    base = _ts(0)
    rows = [
        (1, base, base, None, base, 10, bytearray(b"\x01"), None, None, None,
         "hello", '[{"url": "https://x.test"}]', "[1, 2, 3]", "[0, 6]", None, None),
        # historical Python-repr payload (reference tests/test_db.py:4-12)
        (2, base, base, None, base, 11, bytearray(b"\x02"), None, None, None,
         "world", "[{'url': 'https://y.test'}]", "[]", "[]", None, None),
    ]
    df = spark.createDataFrame(rows, spec.schema)
    df.coalesce(1).write.mode("overwrite").parquet(src + "/_tmp")
    part = [f for f in os.listdir(src + "/_tmp") if f.endswith(".parquet")][0]
    name = window_file_name("farcaster", "casts", 1200, 300)
    os.replace(os.path.join(src, "_tmp", part), os.path.join(src, name))

    pipe = ImportPipeline(
        spark, spec, src, str(tmp_path / "v2lake"),
        schema_name="farcaster", file_version="v2", incremental_duration=300,
    )
    report = pipe.run_catchup(start_timestamp=1200, end_timestamp=1500, now=1500)
    assert report.files_imported == 1 and report.rows_upserted == 2

    out = {r.id: r for r in pipe.sink.read().collect()}
    assert out[1].mentions == [1, 2, 3]          # JSON string -> bigint[]
    assert out[1].mentions_positions == [0, 6]   # -> smallint[]
    assert out[2].mentions == []
    import json as _json

    assert _json.loads(out[1].embeds) == [{"url": "https://x.test"}]
    # Python-repr payload canonicalized to real JSON
    assert _json.loads(out[2].embeds) == [{"url": "https://y.test"}]
    # schema carries the native array types after transform
    dtypes = dict(pipe.transform(df).dtypes)
    assert dtypes["mentions"] == "array<bigint>"
    assert dtypes["mentions_positions"] == "array<smallint>"


def test_uri_source_listing_via_hadoop_fs(spark, tmp_path):
    """The object-store seam: a file:// URI source goes through the Hadoop
    FileSystem API (the same path s3a:// takes on a cluster), end to end
    through plan_windows and the import pipeline."""
    src = str(tmp_path / "urisrc")
    os.makedirs(src)
    _write_window(spark, src, 100, 1, [_row(1, 1, 2, 5)])
    _write_window(spark, src, 101, 1, [_row(2, 3, 4, 6)])
    uri = f"file://{src}"
    plan = plan_windows(uri, "nindexer", "follows", 100, 102, 1)
    assert len(plan.incremental_paths) == 2
    assert all(p.startswith("file://") for p in plan.incremental_paths)
    pipe = ImportPipeline(
        spark, SPEC, uri, str(tmp_path / "urilake"), incremental_duration=1
    )
    report = pipe.run_catchup(start_timestamp=100, end_timestamp=102, now=102)
    assert report.files_imported == 2 and report.rows_upserted == 2
    # rows scanned are read from the footers through the same seam
    assert parquet_rows(plan.incremental_paths) == 2
    assert parquet_rows([p[len("file://"):] for p in plan.incremental_paths]) == 2


def test_catchup_emits_reference_metric_series(spark, tmp_path):
    """A catch-up run with an emitter injected must emit the reference's
    statsd series (db.py:918-936): imported/filtered counters tagged per
    table, file/row-age gauges, and the configurable CU-cost counter
    billed at scanned x multiplier when filters are active."""
    from neynar_parquet_importer_spark.streaming.metrics import RecordingEmitter

    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_window(spark, src, 0, 1000, [_row(1, 10, 20, 500), _row(2, 11, 21, 600)])
    _write_window(spark, src, 1000, 1, [_row(3, 12, 22, 1000)])

    emitter = RecordingEmitter()
    pipe = ImportPipeline(
        spark,
        SPEC,
        src,
        str(tmp_path / "lake"),
        filter_doc={"data.fid": {"$lt": 12}},  # drops the id-3 row
        emitter=emitter,
        cu_metric="cu_cost",
        cost_per_row=2.0,
    )
    report = pipe.run_catchup(end_timestamp=1001, now=5000.0)
    assert report.rows_upserted == 2

    by_metric = {(kind, name): (value, tags) for kind, name, value, tags in emitter.series}
    assert by_metric[("increment", "num_parquet_rows_imported")][0] == 2
    assert by_metric[("increment", "num_parquet_rows_filtered")][0] == 1
    # filters active: all 3 scanned rows billed at 1.1 x 2.0
    assert by_metric[("increment", "cu_cost")][0] == pytest.approx(3 * 1.1 * 2.0)
    # file age from the newest pending window's end (1001), at now=5000
    assert by_metric[("gauge", "parquet_file_age_s")][0] == pytest.approx(3999.0)
    assert ("gauge", "parquet_row_age_s") in by_metric
    assert all(t == (f"table:{SPEC.name}",) for _, t in by_metric.values())


def test_ledger_entry_from_window_file_names(spark, tmp_path):
    """Every ledger row is built from its file name alone: an incremental
    window, the full snapshot and an ``.empty`` sentinel."""
    pipe = ImportPipeline(spark, SPEC, str(tmp_path / "src"), str(tmp_path / "lake"))

    def shape(e):
        return (e.file_type, e.file_version, e.file_duration_s, e.start_timestamp, e.end_timestamp, e.backfill)

    assert shape(pipe.ledger_entry("nindexer-follows-1000-1001.parquet")) == (
        "incremental", "v3", 1, 1000, 1001, False,
    )
    assert shape(pipe.ledger_entry("nindexer-follows-0-1000.parquet", backfill=True)) == (
        "full", "v3", 1000, 0, 1000, True,
    )
    empty = window_file_name("nindexer", "follows", 1001, 1, empty=True)
    entry = pipe.ledger_entry(empty)
    assert entry.file_name == empty
    assert shape(entry) == ("incremental", "v3", 1, 1001, 1002, False)
    assert not entry.completed
