"""The benchmark's own tests: seeded inputs, output checks that catch
injected faults, and metric names that match BENCHMARK.json.

    python3 -m pytest perfbench/tests -q

None of them starts Spark.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import random

import duckdb
import pyarrow as pa
import pytest

from perfbench import gen, oracle, run
from perfbench.gen import Traffic

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMALL = Traffic(
    snapshot_rows={"casts": 400, "follows": 400},
    n_windows=30, window_rows=20, update_share=0.2, delete_share=0.05, tie_share=0.1, stale_share=0.05,
    empty_share=0.2, late_window=25, malformed_json_share=0.1, repr_json_share=0.1, zipf_a=1.3, n_users=100,
)


def _digest(inp, **kw):
    con = duckdb.connect()
    oracle.replay(con, inp.table, oracle.batches_of(inp), "t", **kw)
    return oracle.digest(con, "t")


# -- generator ---------------------------------------------------------------


@pytest.mark.parametrize("table", ["casts", "follows"])
def test_generator_is_deterministic_per_seed(table):
    a, b, c = (gen.table_inputs(table, SMALL, s) for s in (5, 5, 6))
    assert a.snapshot.equals(b.snapshot)
    assert all((x is None and y is None) or x.equals(y) for x, y in zip(a.windows, b.windows))
    assert not a.snapshot.equals(c.snapshot)


def test_written_files_are_identical_per_seed(tmp_path):
    def hashes(d):
        return {n: hashlib.sha256((d / n).read_bytes()).hexdigest() for n in sorted(os.listdir(d))}

    for sub in ("a", "b"):
        inp = gen.table_inputs("casts", SMALL, 9)
        gen.write_snapshot(str(tmp_path / sub / "src"), inp)
        gen.write_windows(str(tmp_path / sub / "src"), inp)
        gen.write_testdata(str(tmp_path / sub / "tpch"), 9)
    for d in ("src", "tpch"):
        assert hashes(tmp_path / "a" / d) == hashes(tmp_path / "b" / d)


def test_traffic_dimensions_hold():
    inp = gen.table_inputs("casts", SMALL, 3)
    assert inp.windows[SMALL.late_window] is not None  # the late window carries data
    assert any(w is None for w in inp.windows)  # .empty sentinels
    wins = [w for w in inp.windows if w is not None]
    ids = [i for w in wins for i in w.column("id").to_pylist()]
    assert len(ids) == len(set(ids))  # a PK occurs once in the stream
    stored = dict(zip(inp.snapshot.column("id").to_pylist(), inp.snapshot.column("updated_at").to_pylist()))
    versions = [(stored[i], v) for w in wins for i, v in zip(w.column("id").to_pylist(), w.column("updated_at").to_pylist())
                if i in stored]
    assert any(new == old for old, new in versions)  # ties with the stored row
    assert any(new < old for old, new in versions)  # out-of-order versions
    embeds = [e for w in wins for e in w.column("embeds").to_pylist()]
    assert any(e and e.startswith("[{'") for e in embeds)
    assert any(e and oracle.clean_embeds(e) is None for e in embeds)  # malformed JSON


# -- output checks catch injected faults ---------------------------------------


def test_replay_catches_a_dropped_window():
    inp = gen.table_inputs("casts", SMALL, 4)
    first = next(i for i, w in enumerate(inp.windows) if w is not None)
    windows = list(inp.windows)
    windows[first] = None
    assert _digest(dataclasses.replace(inp, windows=windows)) != _digest(inp)


def test_replay_catches_a_flipped_recency_tie():
    inp = gen.table_inputs("follows", SMALL, 4)
    assert _digest(inp, tie_wins=False) != _digest(inp)


def test_digest_is_order_independent_and_row_sensitive():
    con = duckdb.connect()
    con.register("t", pa.table({"id": ["a", "b"], "v": [1, 2]}))
    con.register("r", pa.table({"id": ["b", "a"], "v": [2, 1]}))
    con.register("d", pa.table({"id": ["a", "b"], "v": [1, 3]}))
    assert oracle.digest(con, "t") == oracle.digest(con, "r") != oracle.digest(con, "d")


def _ledger(path, inp, offered, extra_commit=None):
    """A real ImportLedger driven the way run_catchup drives it: record
    the snapshot and every offered window, then commit the contiguous
    prefix. ``extra_commit`` then forces one window past it."""
    from neynar_parquet_importer_spark.sinks.ledger import ImportLedger, LedgerEntry

    os.makedirs(path, exist_ok=True)
    led = ImportLedger(os.path.join(path, "ledger.jsonl"))
    names = [gen.window_name(inp.table, 0, inp.t0)]
    led.record_file(LedgerEntry(names[0], "full", "v3", inp.t0, 0, inp.t0))
    by_index = {}
    for i in offered:
        start = inp.t0 + i
        by_index[i] = gen.window_name(inp.table, start, start + 1, inp.windows[i] is None)
        led.record_file(LedgerEntry(by_index[i], "incremental", "v3", 1, start, start + 1))
        names.append(by_index[i])
    prefix = 1 + next((k for k, i in enumerate(offered) if i != k), len(offered))
    led.advance_completed_through(names[:prefix], set(names[:prefix]))
    if extra_commit is not None:
        led.mark_completed(by_index[extra_commit])
    return oracle.ledger_lines(os.path.join(path, "ledger.jsonl"))


def _slots(inp):
    return [(inp.t0 + i, w is None) for i, w in enumerate(inp.windows)]


def test_ledger_check_passes_an_in_order_commit(tmp_path):
    inp = gen.table_inputs("follows", SMALL, 2)
    lines = _ledger(tmp_path, inp, list(range(len(inp.windows))))
    assert oracle.check_ledger(lines, oracle.expected_commits(inp.table, inp.t0, _slots(inp))).ok


def test_ledger_check_catches_a_dropped_window(tmp_path):
    inp = gen.table_inputs("follows", SMALL, 2)
    lines = _ledger(tmp_path, inp, [i for i in range(len(inp.windows)) if i != 7])
    verdict = oracle.check_ledger(lines, oracle.expected_commits(inp.table, inp.t0, _slots(inp)))
    assert not verdict.ok and "not committed" in verdict.message


def test_ledger_check_catches_a_commit_past_the_gap(tmp_path):
    inp = gen.table_inputs("follows", SMALL, 2)
    late = SMALL.late_window
    offered = [i for i in range(len(inp.windows)) if i != late]
    expected = oracle.expected_commits(inp.table, inp.t0, _slots(inp), gap=late)
    assert oracle.check_ledger(_ledger(tmp_path / "ok", inp, offered), expected).ok
    verdict = oracle.check_ledger(_ledger(tmp_path / "bad", inp, offered, extra_commit=late + 1), expected)
    assert not verdict.ok and "past the frontier" in verdict.message


# -- oracle rules agree with the reference semantics --------------------------


def test_filter_sql_agrees_with_the_reference_evaluator():
    from neynar_parquet_importer_spark.filters import evaluate_filter

    rnd = random.Random(0)
    rows = [{"fid": rnd.choice([None, 3, 7, 13, 40]), "parent_fid": rnd.choice([None, 3, 5]),
             "reaction_type": rnd.choice([None, 1, 2, 3])} for _ in range(300)]
    tbl = pa.Table.from_pylist(rows)  # noqa: F841
    con = duckdb.connect()
    docs = list(oracle.INGEST_FILTERS.values()) + [
        {"$or": [{"data.fid": {"$lt": 10}}, {"data.parent_fid": {"$gte": 5}}]},
        {"data.fid": {"$ne": 7, "$lte": 40}},
    ]
    for doc in docs:
        got = con.execute(f"SELECT count(*) FROM tbl WHERE {oracle.filter_sql(doc)}").fetchone()[0]
        assert got == sum(evaluate_filter(doc, r) for r in rows), doc


def test_clean_embeds_rules():
    assert oracle.clean_embeds(None) is None
    assert oracle.clean_embeds('[{"url": "u"}]') == '[{"url": "u"}]'
    assert oracle.clean_embeds("[{'url': 'u', 'cast_id': None}]") == '[{"cast_id":null,"url":"u"}]'
    assert oracle.clean_embeds('[{"url": "u') is None


# -- printed metric names match BENCHMARK.json --------------------------------


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_names()
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOAD_NAMES)
    assert bench["command"] == ["python3", "perfbench/run.py"]
