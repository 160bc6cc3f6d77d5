"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState`` — the extension point the engine offers where
built-in streaming aggregates can't express the semantics (per-key state
machines; SURVEY §2.9's "modify data however you want" slot, done
properly on Spark's state store).

State per user: (session_start, last_seen, n_events). A new event either
extends the open session or closes it (emitting a session row) and opens
a new one; a processing-time timeout flushes idle sessions. The batch
twin with identical semantics is plans.queries.sessionize_events, which
the oracle harness checks; this variant is exercised by the streaming
test with multi-batch input.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.LongType()),
        T.StructField("session_end", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_start", T.LongType()),
        T.StructField("last_seen", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def make_session_fn(gap_s: int = 1800, idle_timeout_ms: int = 60_000):
    def update(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                state.remove()
                yield pd.DataFrame(
                    {"user_id": [user_id], "session_start": [start],
                     "session_end": [last], "n_events": [n]}
                )
            return

        start, last, n = state.get if state.exists else (None, None, 0)
        closed: list[tuple[int, int, int]] = []
        # drain ALL Arrow chunks before sorting: a group larger than
        # arrow.maxRecordsPerBatch arrives as multiple chunks with no
        # cross-chunk ordering guarantee, so a per-chunk sort would feed
        # the gap state machine out-of-order events (sessions silently
        # split/merged). Memory is one group's events — the same bound
        # the state machine itself implies.
        events: list[int] = []
        for pdf in batches:
            events.extend(int(v) for v in pdf["es"])
        for es in sorted(events):
            if start is None:
                start, last, n = es, es, 1
            elif es - last > gap_s:
                closed.append((start, last, n))
                start, last, n = es, es, 1
            else:
                # max(): an event LATE across micro-batches (es < the
                # carried state's last) joins the open session without
                # regressing its end
                last, n = max(last, es), n + 1
        if start is not None:
            state.update((start, last, n))
            state.setTimeoutDuration(idle_timeout_ms)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [c[0] for c in closed],
                    "session_end": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    return update


def sessionize_stream(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """events (streaming DF with user_id + es epoch-seconds columns) ->
    closed-session rows. Caller picks trigger/sink; state lives in the
    Spark state store, checkpointed with the query. The processing-time
    timeout makes every trigger schedule another (no-data) batch, so even
    an ``availableNow`` query never terminates on its own: the caller
    stops it."""
    return events.groupBy("user_id").applyInPandasWithState(
        make_session_fn(gap_s),
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
