"""Every repo-local import in ``scripts/`` resolves.

The scripts import the package inside functions, so importing a script file
would check nothing; each one is parsed instead, and every
``from gridiron_spark... import X`` (likewise ``bench``, ``perfbench``) is
resolved by name. No Spark session is started.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

SCRIPTS = sorted((Path(__file__).resolve().parents[1] / "scripts").glob("*.py"))
LOCAL = {"gridiron_spark", "bench", "perfbench"}


def _local_imports(path: Path):
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and node.module:
            if node.module.split(".")[0] in LOCAL:
                yield from ((node.module, a.name) for a in node.names)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] in LOCAL:
                    yield a.name, None


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_resolve(script):
    found = list(_local_imports(script))
    assert found, f"{script.name} imports nothing from the repo"
    for module, name in found:
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        sub = hasattr(mod, "__path__") and importlib.util.find_spec(f"{module}.{name}")
        assert sub, f"{script.name}: from {module} import {name} does not resolve"
