"""Upsert sink + ledger semantics: last-writer-wins with recency guard,
idempotent re-import, 65535-param chunking, in-order completion."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from neynar_parquet_importer_spark.sinks import (
    ImportLedger,
    LakeUpsertSink,
    build_upsert_sql,
    chunk_rows_for_param_limit,
)
from neynar_parquet_importer_spark.sinks.ledger import LedgerEntry


def _ts(day: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, day)


@pytest.fixture()
def sink(spark, tmp_path):
    return LakeUpsertSink(spark, str(tmp_path / "tbl"), ("id",), "updated_at")


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string, updated_at timestamp")


def _state(sink):
    return {r.id: (r.v, r.updated_at) for r in sink.read().collect()}


def test_upsert_insert_then_update(spark, sink):
    sink.upsert(_df(spark, [(1, "a", _ts(1)), (2, "b", _ts(1))]), epoch=1)
    assert _state(sink) == {1: ("a", _ts(1)), 2: ("b", _ts(1))}

    # newer row wins, older row is ignored (recency guard)
    sink.upsert(_df(spark, [(1, "a2", _ts(2)), (2, "stale", _ts(0) if False else _ts(1))]), epoch=2)
    st = _state(sink)
    assert st[1] == ("a2", _ts(2))


def test_upsert_recency_guard_blocks_old(spark, sink):
    sink.upsert(_df(spark, [(1, "new", _ts(5))]), epoch=1)
    sink.upsert(_df(spark, [(1, "old", _ts(2))]), epoch=2)
    assert _state(sink)[1] == ("new", _ts(5))


def test_upsert_equal_version_incoming_wins(spark, sink):
    # the `excluded.updated_at >= existing.updated_at` tie rule (db.py:887-893)
    sink.upsert(_df(spark, [(1, "first", _ts(3))]), epoch=1)
    sink.upsert(_df(spark, [(1, "second", _ts(3))]), epoch=2)
    assert _state(sink)[1] == ("second", _ts(3))


def test_upsert_intra_batch_dedup(spark, sink):
    # one batch containing the same PK twice must not fail and newest wins
    sink.upsert(_df(spark, [(1, "x", _ts(1)), (1, "y", _ts(2))]), epoch=1)
    assert _state(sink)[1] == ("y", _ts(2))
    # in-batch duplicates over stored rows: the merge is the only dedup
    # pass, and the `>=` tie still goes to the incoming row
    sink.upsert(_df(spark, [(1, "s", _ts(3)), (2, "s", _ts(4))]), epoch=2)
    sink.upsert(
        _df(
            spark,
            [(1, "a", _ts(2)), (1, "b", _ts(3)), (2, "x", _ts(5)), (2, "y", _ts(4))],
        ),
        epoch=3,
    )
    assert _state(sink) == {1: ("b", _ts(3)), 2: ("x", _ts(5))}


def _jobs(spark, action) -> int:
    """Spark jobs that ``action()`` runs, counted under a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_upsert_job_count(spark, tmp_path):
    """A commit's Spark jobs are its fixed cost: a fresh sink runs the
    merge shuffle and the write; a stored sink adds one shuffle-free pass
    that caches the batch and finds its buckets."""
    sink = LakeUpsertSink(spark, str(tmp_path / "tbl"), ("id",), "updated_at", n_buckets=8)
    first = _df(spark, [(i, f"v{i}", _ts(1)) for i in range(1, 41)])
    assert _jobs(spark, lambda: sink.upsert(first, epoch=1)) <= 2
    batch = _df(spark, [(1, "a", _ts(2)), (1, "b", _ts(3)), (7, "c", _ts(2))])
    assert _jobs(spark, lambda: sink.upsert(batch, epoch=2)) == 3
    st = _state(sink)
    assert len(st) == 40 and st[1] == ("b", _ts(3)) and st[7] == ("c", _ts(2))


def test_upsert_missing_stored_column_raises(spark, tmp_path):
    """Reading the touched buckets with the batch's schema would drop a
    stored column the batch lacks from every row in them, so such a
    batch is refused before anything is written. Extra batch columns
    are allowed."""
    import hashlib

    sink = LakeUpsertSink(spark, str(tmp_path / "tbl"), ("id",), "updated_at", n_buckets=4)
    sink.upsert(_df(spark, [(i, f"v{i}", _ts(1)) for i in range(1, 9)]), epoch=1)

    def snapshot():
        out = {}
        for root, _, files in os.walk(sink.root):
            for f in files:
                with open(os.path.join(root, f), "rb") as fh:
                    out[os.path.join(root, f)] = hashlib.md5(fh.read()).hexdigest()
        return out

    before = snapshot()
    narrow = spark.createDataFrame([(1, _ts(2))], "id long, updated_at timestamp")
    with pytest.raises(ValueError, match=r"\['v'\]"):
        sink.upsert(narrow, epoch=2)
    assert snapshot() == before

    wide = spark.createDataFrame(
        [(1, "a", _ts(2), 5)], "id long, v string, updated_at timestamp, w int"
    )
    sink.upsert(wide, epoch=3)
    st = _state(sink)
    assert len(st) == 8 and st[1] == ("a", _ts(2))


@pytest.mark.parametrize("root", ["s3a://bucket/lake", "file:///tmp/lake", "file:/tmp/lake"])
def test_uri_roots_are_refused(spark, tmp_path, monkeypatch, root):
    """The sink and the ledger write through ``os`` calls, so a URI root
    would become a ``./s3a:/…`` or ``./file:/…`` tree under the working
    directory: both refuse it, and nothing is created."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="URI"):
        LakeUpsertSink(spark, root, ("id",), "updated_at")
    with pytest.raises(ValueError, match="URI"):
        ImportLedger(f"{root}/ledger.jsonl")
    assert os.listdir(tmp_path) == []


def test_upsert_idempotent_reimport(spark, sink):
    batch = _df(spark, [(1, "a", _ts(1)), (2, "b", _ts(2))])
    sink.upsert(batch, epoch=1)
    first = _state(sink)
    sink.upsert(batch, epoch=2)  # re-import same file => same state
    assert _state(sink) == first


def test_upsert_untouched_buckets_not_rewritten(spark, tmp_path):
    """Incremental MERGE: a second upsert only rewrites bucket directories
    containing incoming PKs; all other buckets' files are byte-identical.
    Run with a long and a string PK: the touched buckets are found by
    hashing the key, so both key types must route to the same bucket on
    write and on merge."""
    import hashlib
    import os

    def snapshot(data):
        out = {}
        for root, _, files in os.walk(data):
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, data)] = hashlib.md5(fh.read()).hexdigest()
        return out

    for key_type, key in (("long", int), ("string", str)):
        schema = f"id {key_type}, v string, updated_at timestamp"
        sink = LakeUpsertSink(
            spark, str(tmp_path / key_type), ("id",), "updated_at", n_buckets=8
        )
        sink.upsert(
            spark.createDataFrame(
                [(key(i), f"v{i}", _ts(1)) for i in range(1, 41)], schema
            ),
            epoch=1,
        )
        data = sink._data_dir

        before = snapshot(data)
        sink.upsert(spark.createDataFrame([(key(1), "v1b", _ts(2))], schema), epoch=2)
        after = snapshot(data)

        # state is correct
        st = _state(sink)
        assert st[key(1)] == ("v1b", _ts(2)) and len(st) == 40, key_type
        # only the bucket holding id=1 changed
        bucket = spark.createDataFrame([(key(1),)], f"id {key_type}").select(
            F.pmod(F.xxhash64("id"), F.lit(8)).cast("int").alias("b")
        ).head()[0]
        changed_dirs = {
            os.path.dirname(k) for k in (set(before) ^ set(after))
        } | {os.path.dirname(k) for k in before if k in after and before[k] != after[k]}
        assert changed_dirs <= {f"__bucket={bucket}"}, key_type
        untouched = {k for k in before if not k.startswith(f"__bucket={bucket}")}
        assert untouched and all(before[k] == after[k] for k in untouched), key_type


def test_upsert_writes_one_file_per_bucket(spark, tmp_path):
    """The merge shuffles on the bucket, so each bucket is one task's one
    file: on a fresh sink and again when merging into stored buckets
    (a PK shuffle would write one file per shuffle partition). The rows
    carry a hash payload, which compresses poorly, so that AQE keeps
    several shuffle partitions."""
    import os

    sink = LakeUpsertSink(spark, str(tmp_path / "tbl"), ("id",), "updated_at", n_buckets=8)

    def rows(lo, hi, day):
        return spark.range(lo, hi).select(
            "id",
            F.concat(*[F.sha2(F.concat_ws(s, F.lit(day), "id"), 512) for s in "ab"]).alias("v"),
            F.lit(_ts(day)).alias("updated_at"),
        )

    def files_per_bucket():
        data = sink._data_dir
        return {
            d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(data, d)))
            for d in os.listdir(data)
            if d.startswith("__bucket=")
        }

    sink.upsert(rows(0, 4000, 1), epoch=1)
    first = files_per_bucket()
    assert len(first) == 8 and set(first.values()) == {1}
    sink.upsert(rows(2000, 6000, 2), epoch=2)
    second = files_per_bucket()
    assert len(second) == 8 and set(second.values()) == {1}
    st = _state(sink)
    assert len(st) == 6000 and st[0][1] == _ts(1) and st[5999][1] == _ts(2)


def _crash_one_bucket(data, old):
    """The per-bucket swap's crash window: one bucket moved to .old,
    nothing swapped in."""
    import os

    victim = next(n for n in os.listdir(data) if n.startswith("__bucket="))
    os.makedirs(old)
    os.rename(os.path.join(data, victim), os.path.join(old, victim))


def _crash_all_buckets(data, old):
    """``data/`` gone with every bucket in .old — the shape a crash in the
    middle of a whole-table swap leaves."""
    import os

    os.rename(data, old)


@pytest.mark.parametrize(
    "crash", [_crash_one_bucket, _crash_all_buckets], ids=["one_bucket", "all_buckets"]
)
def test_upsert_crash_recovery_rolls_back(spark, tmp_path, crash):
    """Buckets renamed out but never replaced (crash mid-swap) are restored
    by the next open instead of the sink silently restarting empty."""
    import os

    root = str(tmp_path / "tbl")
    sink = LakeUpsertSink(spark, root, ("id",), "updated_at", n_buckets=4)
    sink.upsert(_df(spark, [(i, f"v{i}", _ts(1)) for i in range(1, 9)]), epoch=1)
    before = _state(sink)

    old = os.path.join(root, ".old-99")
    crash(sink._data_dir, old)
    os.makedirs(os.path.join(root, ".staging-99"))  # stale staging too

    sink2 = LakeUpsertSink(spark, root, ("id",), "updated_at", n_buckets=4)
    assert _state(sink2) == before
    assert not os.path.exists(old)
    assert not os.path.exists(os.path.join(root, ".staging-99"))


def test_build_upsert_sql():
    sql = build_upsert_sql("t", ["id", "v", "updated_at"], ["id"], "updated_at", n_rows=2)
    assert "INSERT INTO t (id, v, updated_at) VALUES (%s, %s, %s), (%s, %s, %s)" in sql
    assert "ON CONFLICT (id) DO UPDATE SET v = excluded.v" in sql
    assert "WHERE excluded.updated_at >= t.updated_at" in sql


def test_chunk_rows_for_param_limit():
    rows = [(i, i) for i in range(100)]
    chunks = list(chunk_rows_for_param_limit(rows, n_columns=30000))
    # 65535 // 30000 = 2 rows per chunk
    assert all(len(c) <= 2 for c in chunks)
    assert sum(len(c) for c in chunks) == 100


def test_ledger_roundtrip(tmp_path):
    path = str(tmp_path / "ledger.jsonl")
    led = ImportLedger(path)

    def entry(name, start, end, ftype="incremental"):
        return LedgerEntry(
            file_name=name, file_type=ftype, file_version="v3",
            file_duration_s=end - start, start_timestamp=start, end_timestamp=end,
        )

    led.record_file(entry("s-t-0-100.parquet", 0, 100, "full"))
    led.record_file(entry("s-t-100-101.parquet", 100, 101))
    led.record_file(entry("s-t-101-102.parquet", 101, 102))

    assert led.resume_point() == 100  # newest full, nothing completed yet
    led.mark_completed("s-t-100-101.parquet")
    assert led.resume_point() == 101  # newest completed incremental wins

    # persistence across reopen
    led2 = ImportLedger(path)
    assert led2.is_completed("s-t-100-101.parquet")
    assert not led2.is_completed("s-t-101-102.parquet")


def test_ledger_record_is_idempotent(tmp_path):
    led = ImportLedger(str(tmp_path / "l.jsonl"))
    e1 = LedgerEntry("f", "incremental", "v3", 1, 0, 1, completed=True)
    led.record_file(e1)
    e2 = led.record_file(LedgerEntry("f", "incremental", "v3", 1, 0, 1))
    assert e2.completed  # existing row wins (ON CONFLICT no-op)


def test_ledger_in_order_commit(tmp_path):
    led = ImportLedger(str(tmp_path / "l.jsonl"))
    names = [f"s-t-{i}-{i+1}.parquet" for i in range(4)]
    for i, n in enumerate(names):
        led.record_file(LedgerEntry(n, "incremental", "v3", 1, i, i + 1))
    # window 1 not done -> only window 0 commits (W7 contiguous-prefix rule)
    done = {names[0], names[2], names[3]}
    committed = led.advance_completed_through(names, done)
    assert committed == [names[0]]
    # once the gap fills, the rest commit in order
    committed = led.advance_completed_through(names, done | {names[1]})
    assert committed == names[1:]


def test_ledger_torn_last_line_is_dropped_on_reopen(tmp_path):
    """A crash mid-append leaves half a last line: the reopen drops it and
    truncates the file, so the restart resumes and later appends reload."""
    path = tmp_path / "l.jsonl"
    led = ImportLedger(str(path))
    names = [f"s-t-{i}-{i+1}.parquet" for i in range(3)]
    for i, n in enumerate(names):
        led.record_file(LedgerEntry(n, "incremental", "v3", 1, i, i + 1))
    led.advance_completed_through(names[:2], set(names[:2]))
    raw = path.read_bytes()
    last = raw.rstrip(b"\n").rfind(b"\n") + 1  # start of the last line
    path.write_bytes(raw[: last + (len(raw) - last) // 2])

    led2 = ImportLedger(str(path))
    # the torn line was names[1]'s completion: its window re-imports
    assert led2.resume_point() == 1
    assert path.read_bytes() == raw[:last]
    led2.advance_completed_through(names, set(names))
    assert ImportLedger(str(path)).resume_point() == 3

    # only the last line may be torn: a bad line before it still raises
    path.write_bytes(raw[:last] + b"{not json\n" + raw[last:])
    with pytest.raises(ValueError):
        ImportLedger(str(path))


def test_ledger_staleness(tmp_path):
    led = ImportLedger(str(tmp_path / "l.jsonl"))
    assert led.is_stale(now=1_000_000)  # empty ledger => snapshot needed
    led.record_file(LedgerEntry("s-t-0-100.parquet", "full", "v3", 100, 0, 100))
    assert led.is_stale(now=100 + 22 * 24 * 3600)
    assert not led.is_stale(now=100 + 20 * 24 * 3600)


def test_jdbc_connection_budget_cap(spark):
    """C2: the upsert frame never exceeds the connection pool budget —
    one connection per partition, capped without a shuffle."""
    import datetime

    from neynar_parquet_importer_spark.sinks.jdbc_upsert import prepare_upsert_frame

    base = datetime.datetime(2024, 1, 1)
    rows = [(i % 50, f"v{i}", base + datetime.timedelta(seconds=i)) for i in range(200)]
    df = spark.createDataFrame(
        rows, "id long, v string, updated_at timestamp"
    ).repartition(64)
    out = prepare_upsert_frame(df, ["id"], "updated_at", max_connections=8)
    assert out.rdd.getNumPartitions() <= 8
    got = {r.id: r.v for r in out.collect()}
    assert len(got) == 50
    assert got[0] == "v150"  # max updated_at wins within each PK


# ---------------------------------------------------------------------------
# S9 upsert statement semantics, executed for real against DuckDB
# (DuckDB speaks INSERT..ON CONFLICT..DO UPDATE..WHERE excluded.* — the
# same dialect surface the Postgres sink emits, so the recency guard and
# the duplicate-PK hazard can be validated end-to-end without a live PG)
# ---------------------------------------------------------------------------

def _duck_upsert_table():
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE tgt (id BIGINT PRIMARY KEY, val VARCHAR, updated_at BIGINT)"
    )
    return con


def _run_upsert(con, rows):
    sql = build_upsert_sql(
        "tgt", ["id", "val", "updated_at"], ["id"], "updated_at", n_rows=len(rows)
    ).replace("%s", "?")
    con.execute(sql, [p for r in rows for p in r])


def test_upsert_sql_recency_guard_executes():
    """Newer versions overwrite, stale ones are rejected, equal versions
    win (the reference's >= guard, db.py:884-893 semantics)."""
    con = _duck_upsert_table()
    _run_upsert(con, [(1, "a", 10), (2, "b", 10)])
    _run_upsert(con, [(1, "newer", 20), (2, "stale", 5)])
    _run_upsert(con, [(1, "equal", 20)])
    assert con.execute("SELECT id, val, updated_at FROM tgt ORDER BY id").fetchall() == [
        (1, "equal", 20),
        (2, "b", 10),
    ]


def test_upsert_sql_duplicate_pk_in_statement_raises():
    """One statement touching a PK twice raises (Postgres: 'row updated
    twice'; DuckDB: constraint violation) — the hazard
    prepare_upsert_frame's per-batch dedup exists to prevent."""
    import pytest as _pytest

    con = _duck_upsert_table()
    with _pytest.raises(Exception):
        _run_upsert(con, [(1, "a", 10), (1, "b", 20)])


def test_upsert_sql_chunked_batches_equal_one_batch():
    """Chunking under the bind-parameter limit must not change the final
    table state (chunks execute in row order, so the in-batch recency
    winner still lands last)."""
    rows = [(i % 5, f"v{i}", i) for i in range(20)]  # 4 versions per PK, rising
    con_one = _duck_upsert_table()
    for r in rows:
        _run_upsert(con_one, [r])
    con_chunk = _duck_upsert_table()
    for chunk in chunk_rows_for_param_limit(rows, 3, max_params=9):  # 3 rows/chunk
        # in-chunk PK dedup (max version wins), as prepare_upsert_frame does
        best = {}
        for r in chunk:
            if r[0] not in best or r[2] >= best[r[0]][2]:
                best[r[0]] = r
        _run_upsert(con_chunk, list(best.values()))
    q = "SELECT id, val, updated_at FROM tgt ORDER BY id"
    assert con_one.execute(q).fetchall() == con_chunk.execute(q).fetchall()


def test_streaming_chunker_equals_list_chunker_property():
    """iter_chunks_for_param_limit (the lazy partition path) must produce
    exactly the chunks of chunk_rows_for_param_limit for any row count,
    column width, and param limit."""
    from hypothesis import given, settings as hsettings
    from hypothesis import strategies as st

    from neynar_parquet_importer_spark.sinks.jdbc_upsert import (
        iter_chunks_for_param_limit,
    )

    @hsettings(max_examples=200, deadline=None)
    @given(
        n_rows=st.integers(0, 50),
        n_cols=st.integers(1, 8),
        max_params=st.integers(1, 40),
    )
    def check(n_rows, n_cols, max_params):
        rows = [tuple(range(i, i + n_cols)) for i in range(n_rows)]
        lazy = list(
            iter_chunks_for_param_limit(iter(rows), n_cols, max_params)
        )
        strict = list(
            chunk_rows_for_param_limit(rows, n_cols, max_params)
        )
        assert [list(c) for c in lazy] == [list(c) for c in strict]
        assert all(len(c) * n_cols <= max(max_params, n_cols) for c in lazy)
        assert [r for c in lazy for r in c] == rows  # order + completeness

    check()


def test_empty_first_upsert_does_not_brick_sink(spark, sink):
    """A zero-row first upsert must leave the sink readable-as-None and
    writable: the marker-only data dir (just _SUCCESS) used to satisfy
    exists() and then crash every read with UNABLE_TO_INFER_SCHEMA —
    permanently poisoning any sink-as-state fold whose first batch
    happened to produce an empty delta."""
    empty = _df(spark, []).filter(F.lit(False))
    sink.upsert(empty, epoch=1)
    assert sink.exists() is False
    assert sink.read() is None
    # a later real upsert lands in an empty data dir and works
    sink.upsert(_df(spark, [(1, "a", _ts(1))]), epoch=2)
    assert _state(sink) == {1: ("a", _ts(1))}
    # empty upsert onto LIVE state is a no-op, not a wipe
    sink.upsert(empty, epoch=3)
    assert _state(sink) == {1: ("a", _ts(1))}


def test_resume_point_holds_at_gap_despite_direct_import(tmp_path):
    """A direct_import-style completion BEYOND a gap must not advance
    the resume cursor: the next catch-up would otherwise plan from past
    the gap and silently skip every unimported window under it."""
    from neynar_parquet_importer_spark.sinks.ledger import ImportLedger

    led = ImportLedger(str(tmp_path / "ledger.jsonl"))

    def _win(name, start, end, kind="incremental"):
        led.record_file(
            LedgerEntry(
                file_name=name, file_type=kind, file_version="v3",
                file_duration_s=end - start, start_timestamp=start,
                end_timestamp=end, backfill=False,
            )
        )

    _win("full", 0, 1000, kind="full")
    led.mark_completed("full")
    _win("w1", 1000, 1001)
    led.mark_completed("w1")
    assert led.resume_point() == 1001
    # operator override five windows ahead: recorded + completed out of
    # order (what daemon.direct_import does)
    _win("w9", 5000, 5001)
    led.mark_completed("w9")
    assert led.resume_point() == 1001  # cursor HOLDS at the gap
    # the gap fills in order -> frontier walks through and past w9
    for i, (s, e) in enumerate([(1001, 5000)]):
        _win(f"gap{i}", s, e)
        led.mark_completed(f"gap{i}")
    assert led.resume_point() == 5001


def test_reopen_with_different_n_buckets_raises(spark, tmp_path):
    root = str(tmp_path / "tbl")
    sink = LakeUpsertSink(spark, root, ("id",), "updated_at", n_buckets=16)
    sink.upsert(_df(spark, [(1, "a", _ts(1))]), epoch=1)
    reopened = LakeUpsertSink(spark, root, ("id",), "updated_at", n_buckets=32)
    with pytest.raises(ValueError, match="n_buckets=16"):
        reopened.upsert(_df(spark, [(1, "b", _ts(2))]), epoch=2)
    # same layout reopens fine
    LakeUpsertSink(spark, root, ("id",), "updated_at", n_buckets=16).upsert(
        _df(spark, [(1, "b", _ts(2))]), epoch=3
    )


def test_reopen_with_different_version_column_raises(spark, tmp_path):
    """The recency guard's version column is layout, same as n_buckets:
    reopening with a different one silently changes which row survives a
    PK collision over existing data, so the meta file pins it."""
    root = str(tmp_path / "tbl")
    sink = LakeUpsertSink(spark, root, ("id",), "updated_at", n_buckets=8)
    sink.upsert(_df(spark, [(1, "a", _ts(1))]), epoch=1)
    reopened = LakeUpsertSink(spark, root, ("id",), "id", n_buckets=8)
    with pytest.raises(ValueError, match="version_column='updated_at'"):
        reopened.upsert(_df(spark, [(1, "b", _ts(2))]), epoch=2)


def test_reopen_meta_without_version_column_raises(spark, tmp_path):
    """A meta file that does not pin the version column is not upgraded
    in place: reopening it raises like any other layout difference."""
    import json
    import os

    root = str(tmp_path / "tbl")
    sink = LakeUpsertSink(spark, root, ("id",), "updated_at", n_buckets=8)
    sink.upsert(_df(spark, [(1, "a", _ts(1))]), epoch=1)
    path = os.path.join(root, "_sink_meta.json")
    with open(path) as f:
        meta = json.load(f)
    del meta["version_column"]
    with open(path, "w") as f:
        json.dump(meta, f)
    reopened = LakeUpsertSink(spark, root, ("id",), "updated_at", n_buckets=8)
    with pytest.raises(ValueError, match="version_column=None"):
        reopened.upsert(_df(spark, [(1, "b", _ts(2))]), epoch=2)


def _count_fsyncs(monkeypatch):
    import neynar_parquet_importer_spark.sinks.ledger as ledger_mod

    calls = []
    real_fsync = os.fsync
    monkeypatch.setattr(
        ledger_mod.os, "fsync", lambda fd: (calls.append(1), real_fsync(fd))
    )
    return calls


def test_ledger_deferred_sync_batches_fsyncs(tmp_path, monkeypatch):
    """The in-order commit is the ledger's one durability point: record
    lines are not fsynced, and one advance writes its completion lines
    in one write with one fsync, however many windows it completes (the
    fsync also makes the record lines before them durable)."""
    calls = _count_fsyncs(monkeypatch)
    path = str(tmp_path / "ledger.jsonl")
    led = ImportLedger(path)
    names = [f"s-t-{i}-{i + 1}.parquet" for i in range(5)]
    for i, name in enumerate(names):
        led.record_file(
            LedgerEntry(
                file_name=name, file_type="incremental", file_version="v3",
                file_duration_s=1, start_timestamp=i, end_timestamp=i + 1,
            )
        )
    assert calls == []  # record lines are not fsynced

    assert led.advance_completed_through(names, set(names[:3])) == names[:3]
    assert len(calls) == 1  # three completions, one fsync
    led.mark_completed(names[4])  # a direct completion syncs its own line
    assert len(calls) == 2
    with open(path) as f:
        assert len(f.readlines()) == 5 + 3 + 1

    led2 = ImportLedger(path)  # everything reloads
    assert [led2.is_completed(n) for n in names] == [True, True, True, False, True]
    assert led2.resume_point() == 3  # the completion beyond the gap waits
    assert led2.earliest_start() == 0


def test_ledger_deferred_sync_no_writes_no_fsync(tmp_path, monkeypatch):
    """An advance with nothing to commit (no windows, or a first window
    claimed done but never recorded) neither fsyncs nor creates the file: catch-ups
    with nothing pending stay zero-IO."""
    calls = _count_fsyncs(monkeypatch)
    led = ImportLedger(str(tmp_path / "ledger.jsonl"))
    assert led.advance_completed_through([], set()) == []
    assert led.advance_completed_through(["s-t-0-1.parquet"], {"s-t-0-1.parquet"}) == []
    assert calls == [] and not os.path.exists(led.path)
