"""Every tool script and bench.py imports cleanly by file path. Each one
guards its `main`, so importing runs nothing; a script that still
imports a deleted helper or module fails here, in the fast lane."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SCRIPTS = sorted((REPO / "tools").glob("*.py")) + [REPO / "bench.py"]


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.relative_to(REPO).as_posix())
def test_script_imports(path):
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(getattr(module, "main", None)) or path.stem == "probe_common"
