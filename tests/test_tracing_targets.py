"""The traced benchmark's wrap list stays in step with the engine.

``cdcbench/tracing.py`` replaces engine functions by (owner, attribute)
for a traced run; a renamed or moved engine function would only fail
``--trace 1`` runs. This test loads the tracer module from its file
(no Spark session) and checks that every target still resolves to a
callable.
"""

import importlib.util
import sys
from pathlib import Path

TRACING = Path(__file__).resolve().parents[1] / "cdcbench" / "tracing.py"


def test_every_traced_layer_target_resolves(monkeypatch):
    spec = importlib.util.spec_from_file_location("cdcbench_tracing", TRACING)
    tracing = importlib.util.module_from_spec(spec)
    # its dataclasses resolve annotations through sys.modules
    monkeypatch.setitem(sys.modules, spec.name, tracing)
    spec.loader.exec_module(tracing)
    targets = tracing.layer_targets()
    assert targets
    missing = [name for owner, attr, name in targets
               if not callable(getattr(owner, attr, None))]
    assert not missing, missing
