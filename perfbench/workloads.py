"""The four workloads of the ingest benchmark.

Each drives the program only through its public entry points, on inputs
made from the seed, and checks what the program produced:

- ``backfill``: snapshot + a few windows per table into an empty lake,
  one ``ImportPipeline.run_catchup`` per table (row-volume bound);
- ``catchup``: a lake holding the snapshot, hundreds of pending
  1-second windows per table, one late window opening a gap (file-count
  bound);
- ``live``: an open-loop publisher lands one window per table per second
  while ``run_tables_forever`` imports them (per-window fixed cost);
- ``query``: one closed-loop client cycling through lake reads built on
  ``LakeUpsertSink.read`` and ``graph.transforms`` plus registered
  ``plans.queries`` members.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import uuid
from contextlib import nullcontext
from dataclasses import dataclass, field, replace

import duckdb

from . import gen, oracle
from .gen import T0_BASE, TableInputs, Traffic
from .tracing import Recorder, dir_stats

SETUP_REPS = 3  # set-up runs per benchmark run; setup_s is their median
LIVE_WARMUP_WINDOWS = 2  # first live seconds, excluded from latency
LIVE_WARMUP_IMPORTS = 4  # windows per table imported to warm the JIT in set-up
# sparse, staggered traffic: in each 1-second window one table carries
# rows and the others publish .empty sentinels, so each data window is
# imported without contention and latency is the per-window cost
LIVE_TABLES = ("follows", "reactions", "verifications")
# daemon settings of the live workload: the publisher lands files at
# window close on local disk, so the importer polls for them the way the
# repository's daemon soak does; the daemon owns its session, so it pins
# per-window shuffles to the core count as run_tables_forever recommends
LIVE_DAEMON = {"publish_eta_offset": 0.05, "poll_interval": 0.05, "shuffle_partitions": 4}
MAX_PUBLISH_LATENESS_S = 0.5

# read mix of the query workload: lake reads, then plans.queries members
LAKE_QUERIES = ("profiles_with_verifications", "follower_degree", "reactions_filter_count", "casts_pk_lookup")
PLAN_QUERIES = (
    "q1_pricing_summary", "q9_product_profit", "q21_late_shippers", "join_left_ordered_agg",
    "latest_event_per_user", "tumbling_event_counts", "sessionize_events", "graph_degrees",
    "embedding_topk", "text_quality",
)
REACTIONS_QUERY_FILTER = {"$and": [{"data.reaction_type": {"$eq": 1}}, {"data.target_fid": {"$lte": 20}}]}
PK_LOOKUP_BATCH = 25

_BASE = dict(update_share=0.2, delete_share=0.05, tie_share=0.05, stale_share=0.05,
             malformed_json_share=0.03, repr_json_share=0.05, zipf_a=1.3, n_users=5000)

TRAFFIC: dict[str, Traffic] = {
    # snapshot and windows imported as one batch: no version ties
    "backfill": Traffic(
        snapshot_rows={"casts": 20000, "reactions": 30000, "follows": 30000, "profiles": 5000, "verifications": 5000},
        n_windows=4, window_rows=1500, empty_share=0.0, late_window=None,
        **{**_BASE, "update_share": 0.3, "tie_share": 0.0}),
    "catchup": Traffic(
        snapshot_rows={"casts": 3000, "follows": 3000},
        n_windows=300, window_rows=20, empty_share=0.2, late_window=270, **_BASE),
    # empty_share 0: the live publisher decides which windows are empty
    "live": Traffic(
        snapshot_rows={"follows": 5000, "reactions": 5000, "verifications": 5000},
        n_windows=0, window_rows=100, empty_share=0.0, late_window=None, **_BASE),
    "query": Traffic(
        snapshot_rows={"casts": 3000, "reactions": 6000, "follows": 6000, "profiles": 2000, "verifications": 3000},
        n_windows=2, window_rows=300, empty_share=0.0, late_window=None, **{**_BASE, "tie_share": 0.0}),
}


@dataclass
class Phase:
    """What one measured phase did."""

    latencies: list[float] = field(default_factory=list)  # seconds
    work: float = 0.0  # rows (backfill), windows (catchup, live), queries (query)
    busy_s: float = 0.0  # time the work took
    attempted: int = 0
    failed: int = 0
    units: int = 0  # windows committed / queries answered (jobs-per-unit base)
    per_query: dict[str, list[float]] = field(default_factory=dict)
    inputs: dict[str, list[str]] = field(default_factory=dict)  # table -> files imported

    @property
    def throughput(self) -> float:
        return self.work / self.busy_s if self.busy_s > 0 else 0.0


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _spec(table: str):
    from neynar_parquet_importer_spark.catalog import REFERENCE_TABLES_V3

    return REFERENCE_TABLES_V3[table]


def pipeline(spark, table: str, src: str, lake: str, **kw):
    from neynar_parquet_importer_spark.streaming.pipeline import ImportPipeline

    return ImportPipeline(spark, _spec(table), src, lake, filter_doc=oracle.INGEST_FILTERS.get(table), **kw)


def sink(spark, lake: str, table: str):
    from neynar_parquet_importer_spark.sinks.lake_upsert import LakeUpsertSink

    spec = _spec(table)
    return LakeUpsertSink(spark, f"{lake}/{table}", spec.primary_key, spec.version_column)


def start_spark(work: str):
    """The benchmark's session, from the program's session factory."""
    from neynar_parquet_importer_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the Spark JVM and wait until it has
    exited (its shutdown hooks included)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Workload:
    name = ""
    tables: tuple[str, ...] = ()

    def __init__(self, root: str, seed: int, seconds: int) -> None:
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.work = os.path.join(root, "perfbench", ".work", self.name)
        self.traffic = TRAFFIC[self.name]
        self.spark = None
        self.con = duckdb.connect()
        self.failures: list[str] = []
        self.check_attempted = 0

    # -- helpers -----------------------------------------------------------
    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        log(f"[{self.name}] CHECK FAILED: {msg}")

    def fresh_dir(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def check_lake(self, lake: str, table: str, expected: str) -> None:
        """Per-table digest of ``LakeUpsertSink.read()`` against the replay."""
        self.check_attempted += 1
        df = sink(self.spark, lake, table).read()
        actual = df.toArrow() if df is not None else None  # noqa: F841 (read by DuckDB)
        if actual is None:
            self.fail(f"{table}: lake is empty")
            return
        self.con.register("actual", actual)
        got, want = oracle.digest(self.con, "actual"), oracle.digest(self.con, expected)
        self.con.unregister("actual")
        if got != want:
            self.fail(f"{table}: lake digest {got} != replay {want}")

    def check_ledger(self, lake: str, table: str, expected: list[str]) -> bool:
        self.check_attempted += 1
        verdict = oracle.check_ledger(oracle.ledger_lines(f"{lake}/{table}/ledger.jsonl"), expected)
        if not verdict.ok:
            self.fail(f"{table}: ledger {verdict.message}")
        return verdict.ok

    def lake_bytes_per_row(self, lake: str) -> float:
        size = sum(dir_stats(f"{lake}/{t}/data")[1] for t in self.tables)
        rows = sum(self.con.execute(f"SELECT count(*) FROM exp_{t}").fetchone()[0] for t in self.tables)
        return size / rows

    # -- the workload protocol ---------------------------------------------
    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Oracle-side expectations; runs after the timed set-up."""

    def measure(self, rec: Recorder | None) -> Phase:
        raise NotImplementedError

    def final_checks(self) -> None:
        raise NotImplementedError

    def state_lake(self) -> str:
        raise NotImplementedError

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------------------
# backfill
# ---------------------------------------------------------------------------


class Backfill(Workload):
    name = "backfill"
    tables = ("casts", "reactions", "follows", "profiles", "verifications")

    def setup(self, rep: int) -> None:
        if self.spark is None:
            self.spark = start_spark(self.work)
        self.d = self.fresh_dir(f"rep{rep}")
        self.inputs: dict[str, TableInputs] = {}
        for t in self.tables:
            inp = gen.table_inputs(t, self.traffic, self.seed)
            gen.write_snapshot(f"{self.d}/src/{t}", inp)
            gen.write_windows(f"{self.d}/src/{t}", inp)
            self.inputs[t] = inp
        if rep == 0:
            self._import_all(f"{self.d}/warmup")  # JIT warm-up on the real path
        self.iteration = 0
        self.last_lake = None

    def _end(self) -> int:
        return T0_BASE + self.traffic.n_windows

    def _import_all(self, lake: str, phase: Phase | None = None) -> None:
        for t in self.tables:
            t0 = time.perf_counter()
            pipe = pipeline(self.spark, t, f"{self.d}/src/{t}", lake)
            report = pipe.run_catchup(end_timestamp=self._end(), now=self._end() + 1)
            dt = time.perf_counter() - t0
            if phase is None:
                continue
            phase.latencies.append(dt)
            phase.busy_s += dt
            phase.work += self.inputs[t].snapshot.num_rows + gen.rows_in(self.inputs[t])
            phase.units += report.files_imported
            phase.attempted += 1
            want = (self.kept[t], 1 + self.traffic.n_windows)
            if (report.rows_upserted, report.files_imported) != want:
                phase.failed += 1
                self.fail(f"{t}: imported (rows, files) {(report.rows_upserted, report.files_imported)} != {want}")

    def prepare_checks(self) -> None:
        self.kept = {}
        for t in self.tables:
            inp = self.inputs[t]
            self.kept[t] = oracle.kept_rows(self.con, t, [inp.snapshot] + [w for w in inp.windows if w is not None])
            oracle.replay(self.con, t, [[inp.snapshot] + [w for w in inp.windows if w is not None]], f"exp_{t}")

    def measure(self, rec: Recorder | None) -> Phase:
        phase = Phase()
        t_end = time.perf_counter() + self.seconds
        while True:
            lake = f"{self.d}/lake{self.iteration}"
            self.iteration += 1
            self._import_all(lake, phase=phase)
            if self.last_lake is not None:
                shutil.rmtree(self.last_lake, ignore_errors=True)
            self.last_lake = lake
            if time.perf_counter() >= t_end:
                break
        phase.inputs = {t: [gen.snapshot_path(f"{self.d}/src/{t}", self.inputs[t])]
                        + [gen.window_path(f"{self.d}/src/{t}", self.inputs[t], i)
                           for i in range(self.traffic.n_windows) if self.inputs[t].windows[i] is not None]
                        for t in self.tables}
        return phase

    def final_checks(self) -> None:
        for t in self.tables:
            inp = self.inputs[t]
            slots = [(inp.t0 + i, w is None) for i, w in enumerate(inp.windows)]
            self.check_ledger(self.last_lake, t, oracle.expected_commits(t, inp.t0, slots))
            self.check_lake(self.last_lake, t, f"exp_{t}")

    def state_lake(self) -> str:
        return self.last_lake


# ---------------------------------------------------------------------------
# catchup
# ---------------------------------------------------------------------------


class Catchup(Workload):
    name = "catchup"
    tables = ("casts", "follows")

    def setup(self, rep: int) -> None:
        if self.spark is None:
            self.spark = start_spark(self.work)
        self.d = self.fresh_dir(f"rep{rep}")
        late = self.traffic.late_window
        self.inputs = {}
        for t in self.tables:
            inp = gen.table_inputs(t, self.traffic, self.seed)
            src = f"{self.d}/src/{t}"
            gen.write_snapshot(src, inp)
            gen.write_windows(src, inp, skip={late})
            os.makedirs(f"{self.d}/held/{t}")
            gen.publish(self._late_path(t, held=True, inp=inp), inp.windows[late])
            self.inputs[t] = inp
            # the lake every catch-up restarts from: the snapshot, imported
            pipeline(self.spark, t, src, f"{self.d}/template").run_catchup(end_timestamp=inp.t0, now=inp.t0 + 1)
        if rep == 0:
            # JIT warm-up of the merge path: a short catch-up of one table
            # (the tables share every code path) on a copy of its lake
            t = self.tables[0]
            shutil.copytree(f"{self.d}/template/{t}", f"{self.d}/warmup/{t}")
            pipeline(self.spark, t, f"{self.d}/src/{t}", f"{self.d}/warmup").run_catchup(
                end_timestamp=T0_BASE + 20, now=T0_BASE + 21)
        self.iteration = 0
        self.last: dict[str, str] = {}

    def _late_path(self, t: str, held: bool, inp: TableInputs | None = None) -> str:
        inp = inp or self.inputs[t]
        path = gen.window_path(f"{self.d}/src/{t}", inp, self.traffic.late_window)
        return os.path.join(f"{self.d}/held/{t}", os.path.basename(path)) if held else path

    def prepare_checks(self) -> None:
        self.kept = {}
        late = self.traffic.late_window
        for t in self.tables:
            inp = self.inputs[t]
            wins = inp.windows
            self.kept[t] = (
                oracle.kept_rows(self.con, t, [w for i, w in enumerate(wins) if w is not None and i != late]),
                oracle.kept_rows(self.con, t, [w for w in wins[late:] if w is not None]),
            )
            oracle.replay(self.con, t, oracle.batches_of(inp), f"exp_{t}")

    def _catch_up(self, lake: str, t: str, phase: Phase) -> None:
        inp, n, late = self.inputs[t], self.traffic.n_windows, self.traffic.late_window
        end, now = inp.t0 + n, inp.t0 + n + 1
        slots = [(inp.t0 + i, w is None) for i, w in enumerate(inp.windows)]
        n_empty = sum(1 for w in inp.windows if w is None)
        t0 = time.perf_counter()
        pipe = pipeline(self.spark, t, f"{self.d}/src/{t}", lake)
        first = pipe.run_catchup(end_timestamp=end, now=now)
        d1 = time.perf_counter() - t0
        ok = self.check_ledger(lake, t, oracle.expected_commits(t, inp.t0, slots, gap=late))
        os.replace(self._late_path(t, held=True), self._late_path(t, held=False))  # the late window lands
        t0 = time.perf_counter()
        second = pipe.run_catchup(end_timestamp=end, now=now)
        d2 = time.perf_counter() - t0
        os.replace(self._late_path(t, held=False), self._late_path(t, held=True))
        ok &= self.check_ledger(lake, t, oracle.expected_commits(t, inp.t0, slots))
        got = (first.rows_upserted, first.missing_windows, first.empty_windows, second.rows_upserted, second.missing_windows)
        want = (self.kept[t][0], 1, n_empty, self.kept[t][1], 0)
        if got != want:
            ok = False
            self.fail(f"{t}: catch-up (rows, missing, empty, rows after gap, missing after gap) {got} != {want}")
        phase.latencies.append(d1 + d2)
        phase.busy_s += d1 + d2
        phase.work += n
        phase.units += n
        phase.attempted += 1
        phase.failed += 0 if ok else 1

    def measure(self, rec: Recorder | None) -> Phase:
        phase = Phase()
        t_end = time.perf_counter() + self.seconds
        k = 0
        while k < len(self.tables) or time.perf_counter() < t_end:  # every table at least once
            t = self.tables[k % len(self.tables)]
            lake = f"{self.d}/lake{self.iteration}"
            self.iteration += 1
            shutil.copytree(f"{self.d}/template/{t}", f"{lake}/{t}")
            self._catch_up(lake, t, phase)
            if t in self.last:
                shutil.rmtree(self.last[t], ignore_errors=True)
            self.last[t] = lake
            k += 1
        phase.inputs = {t: [gen.window_path(f"{self.d}/src/{t}", self.inputs[t], i)
                            for i, w in enumerate(self.inputs[t].windows)
                            if w is not None and i != self.traffic.late_window]
                        for t in self.tables}
        return phase

    def final_checks(self) -> None:
        for t in self.tables:
            self.check_lake(self.last[t], t, f"exp_{t}")

    def state_lake(self) -> str:
        """One lake holding the last catch-up of every table."""
        lake = f"{self.d}/final"
        if not os.path.isdir(lake):
            for t in self.tables:
                shutil.copytree(f"{self.last[t]}/{t}", f"{lake}/{t}")
        return lake


# ---------------------------------------------------------------------------
# live
# ---------------------------------------------------------------------------


class Live(Workload):
    """Open loop: one window per table per second, published at window
    close whatever the importer does; latency runs from that scheduled
    publish time to the ledger commit of each window that carries rows."""

    name = "live"
    tables = LIVE_TABLES

    def setup(self, rep: int) -> None:
        if self.spark is None:
            self.spark = start_spark(self.work)
        self.d = self.fresh_dir(f"rep{rep}")
        # data windows for two phases (the traced run measures twice) and
        # the warm-up; every stored PK is touched at most once across them
        per_phase = (LIVE_WARMUP_WINDOWS + self.seconds) // len(self.tables) + 1
        tr = replace(self.traffic, n_windows=2 * per_phase + LIVE_WARMUP_IMPORTS)
        self.t_snap = int(time.time()) + 1
        self.inputs = {}
        for t in self.tables:
            inp = gen.table_inputs(t, tr, self.seed, t0=self.t_snap)
            gen.write_snapshot(f"{self.d}/src/{t}", inp)
            pipeline(self.spark, t, f"{self.d}/src/{t}", f"{self.d}/lake").run_catchup(
                end_timestamp=self.t_snap, now=self.t_snap + 1)
            self.inputs[t] = inp
        if rep == 0:
            self._warm_up()
        self.slots: dict[str, list[tuple[int, object]]] = {t: [] for t in self.tables}
        self.cursor = {t: 0 for t in self.tables}

    def _warm_up(self) -> None:
        """JIT warm-up of the per-window path: the stream's last windows
        (which a run of this length never publishes), imported one at a
        time into copies of the tables' lakes."""
        for t in self.tables:
            inp = self.inputs[t]
            src = f"{self.d}/warmup-src/{t}"
            gen.write_snapshot(src, inp)
            shutil.copytree(f"{self.d}/lake/{t}", f"{self.d}/warmup/{t}")
            pipe = pipeline(self.spark, t, src, f"{self.d}/warmup")
            for k, win in enumerate(inp.windows[-LIVE_WARMUP_IMPORTS:]):
                start = self.t_snap + k
                gen.publish(os.path.join(src, gen.window_name(t, start, start + 1)), win)
                pipe.run_catchup(end_timestamp=start + 1, now=start + 2)

    def _slot_publish(self, t: str, start: int, win) -> None:
        """Publish a window into slot ``[start, start + 1)``: live windows
        sit on the wall clock, not at ``inputs[t].t0 + i``."""
        gen.publish(os.path.join(f"{self.d}/src/{t}", gen.window_name(t, start, start + 1, win is None)), win)
        self.slots[t].append((start, win))

    def measure(self, rec: Recorder | None) -> Phase:
        from neynar_parquet_importer_spark.sinks.ledger import ImportLedger
        from neynar_parquet_importer_spark.streaming import daemon
        from neynar_parquet_importer_spark.streaming.pipeline import ImportPipeline

        phase = Phase()
        # quiet windows since the last published one: .empty sentinels,
        # published at once (nothing happened while nobody was importing).
        # Only windows that have closed: a window published early makes
        # the daemon spin on a file it may not import yet.
        published = self.slots[self.tables[0]]
        last = published[-1][0] + 1 if published else self.t_snap
        t_live = max(int(time.time()), last)
        for t in self.tables:
            for s in range(last, t_live):
                self._slot_publish(t, s, None)

        commit_at: dict[str, float] = {}
        busy: list[tuple[float, float]] = []
        lock = threading.Lock()

        orig_advance, orig_catchup = ImportLedger.advance_completed_through, ImportPipeline.run_catchup

        def advance(ledger, names, done):
            out = orig_advance(ledger, names, done)
            now = time.time()
            for n in out:
                commit_at[n] = now
            return out

        def run_catchup(pipe, *a, **k):
            t0 = time.perf_counter()
            try:
                return orig_catchup(pipe, *a, **k)
            finally:
                with lock:
                    busy.append((t0, time.perf_counter()))

        ImportLedger.advance_completed_through = advance
        ImportPipeline.run_catchup = run_catchup
        shutdown = threading.Event()
        pipes = [pipeline(self.spark, t, f"{self.d}/src/{t}", f"{self.d}/lake",
                          publish_eta_offset=LIVE_DAEMON["publish_eta_offset"],
                          poll_interval=LIVE_DAEMON["poll_interval"]) for t in self.tables]
        reports: dict = {}

        def run_daemon() -> None:
            ctx = rec.span("daemon") if rec is not None else nullcontext()
            with ctx:
                reports.update(daemon.run_tables_forever(
                    pipes, shutdown=shutdown, shuffle_partitions=LIVE_DAEMON["shuffle_partitions"]))

        th = threading.Thread(target=run_daemon, name="daemon")
        th.start()
        n_pub = LIVE_WARMUP_WINDOWS + self.seconds
        due_at: dict[str, float] = {}  # every window published after the warm-up
        data: list[str] = []  # ... those that carry rows
        lateness: list[float] = []
        backlog: list[int] = []
        behind = False
        try:
            for k in range(n_pub):
                start = t_live + k
                due = start + 1.0  # publish at window close
                nap = due - time.time()
                if nap > 0:
                    time.sleep(nap)
                backlog.append(sum(1 for n in due_at if n not in commit_at))
                for j, t in enumerate(self.tables):
                    win = None
                    if start % len(self.tables) == j:
                        win = self.inputs[t].windows[self.cursor[t]]
                        self.cursor[t] += 1
                    self._slot_publish(t, start, win)
                    name = gen.window_name(t, start, start + 1, win is None)
                    if k >= LIVE_WARMUP_WINDOWS:
                        due_at[name] = due
                        if win is not None:
                            data.append(name)
                lateness.append(time.time() - due)
                if lateness[-1] > MAX_PUBLISH_LATENESS_S:
                    behind = True
                    break
            deadline = time.time() + 20
            while time.time() < deadline and not all(n in commit_at for n in due_at):
                time.sleep(0.02)
        finally:
            shutdown.set()
            th.join(timeout=120)
            ImportLedger.advance_completed_through, ImportPipeline.run_catchup = orig_advance, orig_catchup
        if th.is_alive():
            raise RuntimeError("live: daemon did not stop")
        if behind:
            raise RuntimeError(f"live: publisher fell {max(lateness):.3f}s behind schedule")
        # batching lets a busy daemon settle at a bounded backlog; a
        # backlog still growing over the last two thirds is not sustained
        third = max(1, len(backlog) // 3)
        growth = statistics.median(backlog[-third:]) - statistics.median(backlog[third:-third] or backlog[:third])
        if growth > len(self.tables):
            raise RuntimeError(f"live: backlog grew by {growth} windows across the run ({backlog})")
        missing = [n for n in due_at if n not in commit_at]
        if missing:
            raise RuntimeError(f"live: {len(missing)} published windows never committed, first {missing[0]}")

        self.publish_lateness = lateness
        phase.latencies = [commit_at[n] - due_at[n] for n in data]
        phase.attempted = phase.units = len(due_at)
        measured_from = time.perf_counter() - (time.time() - (t_live + LIVE_WARMUP_WINDOWS))
        phase.work = len(data)
        phase.busy_s = sum(b - a for a, b in busy if a >= measured_from)
        phase.inputs = {t: [os.path.join(f"{self.d}/src/{t}", gen.window_name(t, s, s + 1))
                            for s, w in self.slots[t][-n_pub:] if w is not None] for t in self.tables}
        return phase

    def final_checks(self) -> None:
        for t in self.tables:
            inp = self.inputs[t]
            published = [w for _, w in self.slots[t] if w is not None]
            oracle.replay(self.con, t, [[inp.snapshot], published], f"exp_{t}")
            slots = [(s, w is None) for s, w in self.slots[t]]
            self.check_ledger(f"{self.d}/lake", t, oracle.expected_commits(t, self.t_snap, slots))
            self.check_lake(f"{self.d}/lake", t, f"exp_{t}")

    def state_lake(self) -> str:
        return f"{self.d}/lake"


# ---------------------------------------------------------------------------
# query
# ---------------------------------------------------------------------------


class Query(Workload):
    """Closed loop, one client: each read starts when the previous one
    has returned; every answer is checked."""

    name = "query"
    tables = ("casts", "reactions", "follows", "profiles", "verifications")

    def setup(self, rep: int) -> None:
        if self.spark is None:
            self.spark = start_spark(self.work)
        self.d = self.fresh_dir(f"rep{rep}")
        self.inputs = {}
        end = T0_BASE + self.traffic.n_windows
        for t in self.tables:
            inp = gen.table_inputs(t, self.traffic, self.seed)
            gen.write_snapshot(f"{self.d}/src/{t}", inp)
            gen.write_windows(f"{self.d}/src/{t}", inp)
            pipeline(self.spark, t, f"{self.d}/src/{t}", f"{self.d}/lake").run_catchup(end_timestamp=end, now=end + 1)
            self.inputs[t] = inp
        gen.write_testdata(f"{self.d}/tpch", self.seed)
        self.lookup_pool = sorted(str(uuid.UUID(bytes=b)) for b in self.inputs["casts"].snapshot.column("id").to_pylist())
        self.sinks = {t: sink(self.spark, f"{self.d}/lake", t) for t in self.tables}
        self.mix = self._mix()
        if rep == 0:
            for _name, run in self.mix:  # JIT warm-up: one pass over the mix
                run(0)

    def _mix(self):
        from pyspark.sql import functions as F

        from neynar_parquet_importer_spark.filters import compile_filter
        from neynar_parquet_importer_spark.graph import transforms as gt
        from neynar_parquet_importer_spark.plans.queries import QUERIES

        s = self.sinks
        tpch = f"{self.d}/tpch"

        def pwv(_k):
            out = gt.profiles_with_verifications(s["profiles"].read(), s["verifications"].read())
            return [tuple(r) for r in out.select("id", "fid", "username", "verifications").collect()]

        def degree(_k):
            edges = gt.follows_to_edges(s["follows"].read()).filter(F.col("deleted_at").isNull())
            return [tuple(r) for r in edges.groupBy("dst").count().collect()]

        def reaction_count(_k):
            return s["reactions"].read().filter(compile_filter(REACTIONS_QUERY_FILTER)).count()

        def pk_lookup(k):
            ids = self._lookup_ids(k)
            out = s["casts"].read().filter(F.col("id").isin(ids))
            return [tuple(r) for r in out.select("id", F.unix_micros("updated_at"), "text").collect()]

        def plan(name):
            def run(_k):
                df = QUERIES[name](self.spark, tpch)
                return [tuple(r) for r in df.collect()], df.columns
            return run

        lake = list(zip(LAKE_QUERIES, (pwv, degree, reaction_count, pk_lookup)))
        return lake + [(n, plan(n)) for n in PLAN_QUERIES]

    def _lookup_ids(self, k: int) -> list[str]:
        rng = gen.seeded_rng(self.seed, "lookup", str(k))
        ids = self.lookup_pool
        picks = [ids[i] for i in rng.integers(0, len(ids), PK_LOOKUP_BATCH - 5)]
        return picks + [f"00000000-0000-0000-0000-{k:06d}{i:06d}" for i in range(5)]  # absent PKs

    def prepare_checks(self) -> None:
        from neynar_parquet_importer_spark.plans.queries import ORACLE_SQL

        sys.path.insert(0, os.path.join(self.root, "tests"))
        from canon_replica import multiset  # the suite's canonical multiset compare

        self.multiset = multiset
        for t in self.tables:
            oracle.replay(self.con, t, oracle.batches_of(self.inputs[t]), f"exp_{t}")
        con = self.con
        self.expected = {
            "profiles_with_verifications": oracle.pwv_reference(con, "exp_profiles", "exp_verifications"),
            "follower_degree": multiset(con.execute(
                "SELECT target_fid, count(*) FROM exp_follows WHERE deleted_at IS NULL GROUP BY 1").fetchall(), ["dst", "count"]),
            "reactions_filter_count": con.execute(
                f"SELECT count(*) FROM exp_reactions WHERE {oracle.filter_sql(REACTIONS_QUERY_FILTER)}").fetchone()[0],
        }
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{self.d}/tpch/{t}.parquet')")
        for name in PLAN_QUERIES:
            rel = con.sql(ORACLE_SQL[name])
            self.expected[name] = (multiset(rel.fetchall(), rel.columns), sorted(rel.columns))

    def _correct(self, name: str, k: int, got) -> bool:
        if name == "profiles_with_verifications":
            return oracle.pwv_canonical(got) == self.expected[name]
        if name == "follower_degree":
            return self.multiset(got, ["dst", "count"]) == self.expected[name]
        if name == "reactions_filter_count":
            return got == self.expected[name]
        if name == "casts_pk_lookup":
            ids = self._lookup_ids(k)
            want = self.con.execute(
                "SELECT id, epoch_us(updated_at), text FROM exp_casts WHERE list_contains(?, id)", [ids]).fetchall()
            return sorted(got) == sorted(want)
        rows, cols = got
        want_rows, want_cols = self.expected[name]
        return sorted(cols) == want_cols and self.multiset(rows, cols) == want_rows

    def measure(self, rec: Recorder | None) -> Phase:
        phase = Phase()
        t_start = time.perf_counter()
        t_end = t_start + self.seconds
        k = 0
        while time.perf_counter() < t_end:  # whole cycles: every member sampled equally
            k += 1
            for name, run in self.mix:
                ctx = rec.span(f"query.{name}", key=f"{name}#{k}") if rec is not None else nullcontext()
                t0 = time.perf_counter()
                with ctx:
                    got = run(k)
                dt = time.perf_counter() - t0
                phase.latencies.append(dt)
                phase.per_query.setdefault(name, []).append(dt)
                phase.attempted += 1
                if not self._correct(name, k, got):
                    phase.failed += 1
                    self.fail(f"query {name} (cycle {k}) disagrees with its reference")
        phase.busy_s = time.perf_counter() - t_start
        phase.work = phase.units = phase.attempted
        return phase

    def final_checks(self) -> None:
        for t in self.tables:
            self.check_lake(f"{self.d}/lake", t, f"exp_{t}")

    def state_lake(self) -> str:
        return f"{self.d}/lake"


WORKLOADS = {w.name: w for w in (Backfill, Catchup, Live, Query)}
