"""The names the benchmark of record wraps stay where it looks for them.

``perfbench.tracing.install`` replaces methods and module-level functions
by name and raises AttributeError when one is gone, so a refactor that
renames or removes one fails here instead of crashing every traced
benchmark run. No Spark session starts.
"""

from __future__ import annotations

from perfbench.tracing import Recorder, install


def test_tracing_install_wraps_every_layer_name_and_restores():
    rec = Recorder()
    install(rec)
    rec.restore()


def test_commit_clock_patch_signature(tmp_path):
    """The ``live`` workload's commit clock replaces
    ``ImportLedger.advance_completed_through`` with ``advance(ledger,
    names, done)`` and reads the newly committed names from its list
    return; ``install`` does not cover that patch."""
    import inspect

    from neynar_parquet_importer_spark.sinks.ledger import ImportLedger, LedgerEntry

    params = inspect.signature(ImportLedger.advance_completed_through).parameters
    assert list(params) == ["self", "ordered_file_names", "done"]
    led = ImportLedger(str(tmp_path / "ledger.jsonl"))
    led.record_file(LedgerEntry("s-t-0-1.parquet", "incremental", "v3", 1, 0, 1))
    out = ImportLedger.advance_completed_through(led, ["s-t-0-1.parquet"], {"s-t-0-1.parquet"})
    assert out == ["s-t-0-1.parquet"]
