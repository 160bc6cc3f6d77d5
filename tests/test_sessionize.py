"""Stateful streaming sessionization (applyInPandasWithState): sessions
close on gap within a batch and on later-batch evidence; state persists
across micro-batches (maxFilesPerTrigger=1 forces multiple batches); a
timed-out session is flushed."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from neynar_parquet_importer_spark.streaming.sessionize import sessionize_stream

SCHEMA = T.StructType(
    [T.StructField("user_id", T.LongType()), T.StructField("es", T.LongType())]
)


def test_sessionize_stream_multi_batch(spark, tmp_path):
    src = str(tmp_path / "events")
    os.makedirs(src)
    # batch file 1: user 1 has two events 10s apart, then a 3600s gap event
    spark.createDataFrame(
        [(1, 1000), (1, 1010), (1, 5000)], SCHEMA
    ).coalesce(1).write.parquet(os.path.join(src, "f1"))
    # batch file 2: user 1 again far later (closes the 5000 session),
    # user 2 appears (both stay open until the idle timeout)
    spark.createDataFrame(
        [(1, 10000), (2, 7000)], SCHEMA
    ).coalesce(1).write.parquet(os.path.join(src, "f2"))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    # the query never terminates on its own (every trigger schedules a
    # no-data batch for the processing-time timeout), so the test waits
    # for the two gap-closed sessions and stops it
    out = sessionize_stream(stream, gap_s=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

    def sessions():
        return {
            (r.user_id, r.session_start): (r.session_end, r.n_events)
            for r in spark.sql("select * from sessions").collect()
        }

    deadline = time.monotonic() + 180
    try:
        rows = sessions()
        while len(rows) < 2 and time.monotonic() < deadline:
            assert q.exception() is None
            time.sleep(0.5)
            rows = sessions()
    finally:
        q.stop()
    # closed by in-batch gap: [1000,1010]; closed by batch-2 event: [5000]
    assert rows == {(1, 1000): (1010, 2), (1, 5000): (5000, 1)}


class _FakeState:
    """Minimal GroupState stand-in for unit-driving the update fn."""

    def __init__(self, value=None):
        self._v = value
        self.hasTimedOut = False
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v, self.removed = None, True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def _run_update(fn, state, chunks):
    import pandas as pd

    out = list(fn((7,), (pd.DataFrame({"es": c}) for c in chunks), state))
    closed = []
    for pdf in out:
        closed += list(
            zip(pdf["session_start"], pdf["session_end"], pdf["n_events"])
        )
    return closed


def test_session_fn_sorts_across_chunks_not_per_chunk():
    """applyInPandasWithState splits a large group into multiple Arrow
    chunks with NO cross-chunk ordering; per-chunk sorting fed the gap
    state machine out-of-order events and silently split sessions. The
    fn must drain all chunks, then sort once: chunk 2 here holds EARLIER
    timestamps that belong to chunk 1's session."""
    from neynar_parquet_importer_spark.streaming.sessionize import (
        make_session_fn,
    )

    fn = make_session_fn(gap_s=100)
    state = _FakeState()
    # one true session 1000..1040 interleaved across unordered chunks,
    # then a far-later event opening a second session
    closed = _run_update(fn, state, [[1030, 1040, 5000], [1000, 1010, 1020]])
    assert closed == [(1000, 1040, 5)]
    assert state.get == (5000, 5000, 1)


def test_session_fn_late_event_does_not_regress_open_session():
    """An event LATE across micro-batches (older than the carried
    state's last_seen but inside the gap) joins the open session without
    regressing session_end."""
    from neynar_parquet_importer_spark.streaming.sessionize import (
        make_session_fn,
    )

    fn = make_session_fn(gap_s=100)
    state = _FakeState((1000, 1050, 3))
    closed = _run_update(fn, state, [[1020]])
    assert closed == []
    assert state.get == (1000, 1050, 4)  # count grew, end held


def test_session_fn_flushes_open_session_on_timeout():
    """A group whose state timed out emits its open session and drops
    the state; a fresh event arms the idle timeout."""
    from neynar_parquet_importer_spark.streaming.sessionize import (
        make_session_fn,
    )

    fn = make_session_fn(1800, 1000)
    state = _FakeState()
    assert _run_update(fn, state, [[7000]]) == []
    assert state.timeout_ms == 1000
    state.hasTimedOut = True
    assert _run_update(fn, state, []) == [(7000, 7000, 1)]
    assert state.removed and not state.exists
