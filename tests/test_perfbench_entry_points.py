"""The traced benchmark run (``perfbench/run.py --trace 1``) wraps package
functions by name, from the table ``LAYER_ENTRY_POINTS`` in
``perfbench/tracing.py``.  Deleting or renaming one of them breaks that run
long before the benchmark's own slow test notices; this check needs no
Spark session."""

from __future__ import annotations

import importlib
import importlib.util
import os

_TRACING = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "perfbench", "tracing.py")


def test_traced_entry_points_exist():
    spec = importlib.util.spec_from_file_location("_perfbench_tracing", _TRACING)
    tracing = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tracing)
    assert tracing.LAYER_ENTRY_POINTS
    missing = []
    for modname, names in tracing.LAYER_ENTRY_POINTS.values():
        mod = importlib.import_module(f"{tracing.PKG}.{modname}")
        missing += [f"{modname}.{name}" for name in names
                    if not callable(getattr(mod, name, None))]
    assert not missing, missing
