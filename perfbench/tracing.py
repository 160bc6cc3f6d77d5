"""Span recorder and Spark-metrics reader for the traced run.

Spans are recorded from outside the program, by wrapping the public
functions each layer exposes: name, start, end, parent span, and one id
per window or query. They stay in memory and are written out once the
run ends. Counts that only the program's data can give (rows scanned,
kept, deduped) ride on ``DataFrame.observe`` attached by the wrappers.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    key: str | None
    thread: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory spans plus the observations the wrappers attached."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.observations: list[tuple[str, object]] = []  # (counter, Observation)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, key: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(next(self._ids), parent.sid if parent else None, name,
                 key if key is not None else (parent.key if parent else None),
                 threading.current_thread().name, time.perf_counter())
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.spans.append(s)

    def observe(self, df, counter: str):
        """``df`` with a row count that lands in ``counter`` once the first
        action over it has run."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        self.observations.append((counter, obs))
        return df.observe(obs, F.count(F.lit(1)).alias("n"))

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for counter, obs in self.observations:
            out[counter] += int(obs.get["n"])
        return out

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` by ``make(original)`` until ``restore``."""
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.sid, "parent": s.parent, "name": s.name, "key": s.key,
                                    "thread": s.thread, "start": s.start, "end": s.end, **s.attrs}) + "\n")


def layer_times(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: calls, busy seconds (outermost spans of the name
    only, so a re-entrant layer is not counted twice) and self seconds
    (each span's duration minus the part its child spans cover; children
    run synchronously on their parent's thread)."""
    by_id = {s.sid: s for s in spans}
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.dur
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "busy_s": 0.0, "self_s": 0.0})
    for s in spans:
        agg = out[s.name]
        agg["self_s"] += max(0.0, s.dur - child_time[s.sid])
        p = by_id.get(s.parent)
        nested = False
        while p is not None:
            if p.name == s.name:
                nested = True
                break
            p = by_id.get(p.parent)
        if not nested:
            agg["calls"] += 1
            agg["busy_s"] += s.dur
    return out


# ---------------------------------------------------------------------------
# Spark engine metrics from the application status store
# ---------------------------------------------------------------------------


class SparkMetrics:
    """Job/stage/task totals over an interval, read from Spark's
    status store (the data behind the UI and REST API)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.job0, self.stage0 = self._max_ids()

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _as_list(self, seq):
        jvm = self.spark.sparkContext._jvm
        return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def _lists(self):
        sc = self.spark.sparkContext
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        store = self._store()
        return (self._as_list(store.jobsList(None)),
                self._as_list(store.stageList(None, False, False, no_quantiles, None)))

    def _max_ids(self) -> tuple[int, int]:
        jobs, stages = self._lists()
        return (max((j.jobId() for j in jobs), default=-1),
                max((s.stageId() for s in stages), default=-1))

    def totals(self) -> dict[str, float]:
        all_jobs, all_stages = self._lists()
        jobs = [j for j in all_jobs if j.jobId() > self.job0]
        stages = [s for s in all_stages if s.stageId() > self.stage0]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "task_run_s": sum(s.executorRunTime() for s in stages) / 1000.0,
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "input_bytes": sum(s.inputBytes() for s in stages),
            "output_bytes": sum(s.outputBytes() for s in stages),
        }


def dir_stats(root: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of ``suffix`` files under ``root``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# ---------------------------------------------------------------------------
# the wrapped layer boundaries
# ---------------------------------------------------------------------------


def _bucket_inodes(data_dir: str) -> dict[str, int]:
    try:
        return {n: os.stat(os.path.join(data_dir, n)).st_ino for n in os.listdir(data_dir) if n.startswith("__bucket=")}
    except FileNotFoundError:
        return {}


def _size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except FileNotFoundError:
        return 0


def install(rec: Recorder) -> None:
    """Wrap the public functions of each layer (undone by ``rec.restore``)."""
    from neynar_parquet_importer_spark.sinks import lake_upsert as lu
    from neynar_parquet_importer_spark.sinks.ledger import ImportLedger
    from neynar_parquet_importer_spark.streaming import pipeline as pl

    def run_catchup(orig):
        def wrapped(self, *a, **k):
            with rec.span("pipeline.run_catchup", key=f"{self.spec.name}@{k.get('end_timestamp')}"):
                return orig(self, *a, **k)
        return wrapped

    def wait_for_window(orig):
        def wrapped(self, window_start, *a, **k):
            with rec.span("pipeline.wait_for_window", key=f"{self.spec.name}@{window_start}"):
                return orig(self, window_start, *a, **k)
        return wrapped

    def transform(orig):
        def wrapped(self, df):
            return rec.observe(orig(self, rec.observe(df, "pipeline.rows_scanned")), "pipeline.rows_kept")
        return wrapped

    def plan_windows(orig):
        def wrapped(*a, **k):
            with rec.span("sources.plan_windows") as s:
                plan = orig(*a, **k)
            files = ([plan.full_path] if plan.full_path else []) + plan.incremental_paths
            s.attrs.update(enumerated=len(plan.incremental_paths) + len(plan.empty_windows) + len(plan.missing_windows),
                           empty=len(plan.empty_windows), missing=len(plan.missing_windows),
                           input_bytes=sum(_size(p) for p in files))
            return plan
        return wrapped

    def upsert(orig):
        def wrapped(self, incoming, *a, **k):
            data = os.path.join(self.root, "data")
            before = _bucket_inodes(data)
            with rec.span("lake_upsert") as s:
                orig(self, rec.observe(incoming, "lake_upsert.rows_in"), *a, **k)
            after = _bucket_inodes(data)
            touched = [b for b, ino in after.items() if before.get(b) != ino]
            s.attrs.update(buckets=len(touched),
                           bytes=sum(dir_stats(os.path.join(data, b))[1] for b in touched))
        return wrapped

    def last_writer_wins(orig):
        def wrapped(df, keys, order_by):
            return rec.observe(orig(rec.observe(df, "dedup.rows_in"), keys, order_by), "dedup.rows_out")
        return wrapped

    def ledger_call(orig):
        def wrapped(self, *a, **k):
            with rec.span("ledger") as s:
                out = orig(self, *a, **k)
            if isinstance(out, list):  # advance_completed_through: newly committed
                s.attrs["committed"] = len(out)
            return out
        return wrapped

    rec.patch(pl.ImportPipeline, "run_catchup", run_catchup)
    rec.patch(pl.ImportPipeline, "wait_for_window", wait_for_window)
    rec.patch(pl.ImportPipeline, "transform", transform)
    rec.patch(pl, "plan_windows", plan_windows)  # the name run_catchup calls
    rec.patch(lu.LakeUpsertSink, "upsert", upsert)
    rec.patch(lu, "last_writer_wins", last_writer_wins)  # the name upsert calls
    for method in ("record_file", "advance_completed_through", "resume_point", "is_stale"):
        rec.patch(ImportLedger, method, ledger_call)


def ledger_stats(lake: str, tables) -> tuple[int, int]:
    """(distinct entries, bytes) over the ledgers of ``tables``."""
    entries = size = 0
    for t in tables:
        path = os.path.join(lake, t, "ledger.jsonl")
        size += _size(path)
        with open(path) as f:
            entries += len({json.loads(line)["file_name"] for line in f if line.strip()})
    return entries, size


def derive(rec: Recorder, spark_totals: dict, units: int, transform_s: float,
           lake: str, tables) -> dict[str, float]:
    """Per-layer metrics of one traced phase."""
    lt = layer_times(rec.spans)
    counts = rec.counts()

    def attr(name: str, key: str, spans=None) -> float:
        return sum(s.attrs.get(key, 0) for s in (spans or rec.spans) if s.name == name)

    def t(name: str, key: str) -> float:
        return lt[name][key] if name in lt else 0.0

    daemon_spans = [s for s in rec.spans if s.thread.startswith("import-")]
    iterations = sum(1 for s in daemon_spans if s.name == "pipeline.run_catchup")
    committed = attr("ledger", "committed", daemon_spans)
    in_bytes = attr("sources.plan_windows", "input_bytes")
    rewritten = attr("lake_upsert", "bytes")
    state_files = state_bytes = 0
    for tb in tables:
        f, b = dir_stats(os.path.join(lake, tb, "data"))
        state_files += f
        state_bytes += b
    entries, ledger_bytes = ledger_stats(lake, tables)
    return {
        "daemon.iterations": iterations,
        "daemon.windows_per_iteration": committed / iterations if iterations else 0.0,
        "pipeline.run_catchup.busy_s": t("pipeline.run_catchup", "busy_s"),
        "pipeline.run_catchup.self_s": t("pipeline.run_catchup", "self_s"),
        "pipeline.run_catchup.calls": t("pipeline.run_catchup", "calls"),
        "pipeline.wait_for_window.wait_s": t("pipeline.wait_for_window", "busy_s"),
        "pipeline.rows_scanned": counts.get("pipeline.rows_scanned", 0),
        "pipeline.rows_kept": counts.get("pipeline.rows_kept", 0),
        "pipeline.transform.busy_s": transform_s,
        "sources.plan_windows.busy_s": t("sources.plan_windows", "busy_s"),
        "sources.plan_windows.calls": t("sources.plan_windows", "calls"),
        "sources.windows_enumerated": attr("sources.plan_windows", "enumerated"),
        "sources.empty_windows": attr("sources.plan_windows", "empty"),
        "sources.missing_windows": attr("sources.plan_windows", "missing"),
        "lake_upsert.busy_s": t("lake_upsert", "busy_s"),
        "lake_upsert.self_s": t("lake_upsert", "self_s"),
        "lake_upsert.calls": t("lake_upsert", "calls"),
        "lake_upsert.rows_in": counts.get("lake_upsert.rows_in", 0),
        "lake_upsert.buckets_touched": attr("lake_upsert", "buckets"),
        "lake_upsert.bytes_rewritten": rewritten,
        "lake_upsert.write_amplification": rewritten / in_bytes if in_bytes else 0.0,
        "lake_upsert.state_files": state_files,
        "lake_upsert.state_bytes": state_bytes,
        "ledger.busy_s": t("ledger", "busy_s"),
        "ledger.self_s": t("ledger", "self_s"),
        "ledger.calls": t("ledger", "calls"),
        "ledger.entries": entries,
        "ledger.file_bytes": ledger_bytes,
        "dedup.rows_in": counts.get("dedup.rows_in", 0),
        "dedup.rows_out": counts.get("dedup.rows_out", 0),
        **{f"spark.{k}": v for k, v in spark_totals.items()},
        "spark.jobs_per_window": spark_totals["jobs"] / units if units else 0.0,
    }
