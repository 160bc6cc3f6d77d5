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
