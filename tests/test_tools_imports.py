"""Stale-import guard for the scripts outside the package.

``tools/*.py``, ``perfbench/*.py`` and ``bench.py`` import package names
lazily, inside functions, so deleting or renaming a package name can
strand a script that no other test imports. This scans each script's AST — without
running it — for every ``from science_datalake_spark... import name``
(at any nesting depth) and asserts that the name still resolves.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "science_datalake_spark"
SCRIPTS = (
    sorted(ROOT.glob("tools/*.py"))
    + sorted(ROOT.glob("perfbench/*.py"))
    + [ROOT / "bench.py"]
)


def _package_imports(path: Path) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for every package import in the file; name is
    None for a plain ``import module``."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module == PACKAGE or node.module.startswith(PACKAGE + "."):
                out += [(node.lineno, node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (node.lineno, a.name, None)
                for a in node.names
                if a.name == PACKAGE or a.name.startswith(PACKAGE + ".")
            ]
    return out


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:  # ``from pkg import submodule``
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_scripts_exist():
    assert (ROOT / "bench.py").exists()
    assert len(SCRIPTS) > 1


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_package_imports_resolve(path):
    missing = [
        f"{path.name}:{line}: from {module} import {name}"
        for line, module, name in _package_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, "\n".join(missing)
