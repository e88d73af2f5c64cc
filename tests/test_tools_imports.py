"""Stale-import and stale-keyword guard for the scripts outside the
package.

``tools/*.py``, ``perfbench/*.py`` and ``bench.py`` import package names
lazily, inside functions, so deleting or renaming a package name — or
one of a function's parameters — can strand a script that no other test
imports. This scans each script's AST, without running it, for:

- every ``from science_datalake_spark... import name`` (at any nesting
  depth), and asserts that the name still resolves;
- every call to a package function bound by such an import (``f(...)``
  or ``module_alias.f(...)``), and asserts that each keyword argument
  names one of the function's parameters, unless it takes ``**kwargs``.
"""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "science_datalake_spark"
SCRIPTS = (
    sorted(ROOT.glob("tools/*.py"))
    + sorted(ROOT.glob("perfbench/*.py"))
    + [ROOT / "bench.py"]
)


def _package_imports(path: Path) -> list[tuple[int, str, str | None, str | None]]:
    """(line, module, name, bound) for every package import in the file;
    name is None for a plain ``import module``, and bound is the local name
    the import binds to the package object (None for ``import pkg.mod``,
    which binds only ``pkg``)."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module == PACKAGE or node.module.startswith(PACKAGE + "."):
                out += [
                    (node.lineno, node.module, a.name, a.asname or a.name)
                    for a in node.names
                ]
        elif isinstance(node, ast.Import):
            out += [
                (node.lineno, a.name, None, a.asname)
                for a in node.names
                if a.name == PACKAGE or a.name.startswith(PACKAGE + ".")
            ]
    return out


def _resolve(module: str, name: str | None):
    """The object ``from module import name`` (or ``import module``)
    binds; None when it does not resolve."""
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return None
    if name is None or name == "*":
        return mod
    if hasattr(mod, name):
        return getattr(mod, name)
    try:  # ``from pkg import submodule``
        return importlib.import_module(f"{module}.{name}")
    except ImportError:
        return None


def _call_targets(call: ast.Call, bindings: dict[str, list]) -> list:
    """The package objects a call may invoke: ``f(...)`` for an imported
    ``f``, or ``mod.f(...)`` for an imported module ``mod``."""
    f = call.func
    if isinstance(f, ast.Name):
        return bindings.get(f.id, [])
    if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
        return [
            getattr(m, f.attr)
            for m in bindings.get(f.value.id, [])
            if inspect.ismodule(m) and hasattr(m, f.attr)
        ]
    return []


def _stranded_keywords(path: Path) -> list[str]:
    """``file:line: func(kw=)`` for every keyword a package callee lacks.
    A name imported in several functions may bind several objects; each
    is checked."""
    bindings: dict[str, list] = {}
    for _, module, name, bound in _package_imports(path):
        obj = _resolve(module, name) if bound and name != "*" else None
        if obj is not None:
            bindings.setdefault(bound, []).append(obj)
    out = []
    for call in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if not isinstance(call, ast.Call):
            continue
        for target in _call_targets(call, bindings):
            if inspect.ismodule(target) or not callable(target):
                continue
            try:
                params = inspect.signature(target).parameters.values()
            except (TypeError, ValueError):
                continue
            if any(p.kind is p.VAR_KEYWORD for p in params):
                continue
            named = {
                p.name for p in params if p.kind in (p.POSITIONAL_OR_KEYWORD, p.KEYWORD_ONLY)
            }
            out += [
                f"{path.name}:{call.lineno}: {target.__qualname__}({kw.arg}=)"
                for kw in call.keywords
                if kw.arg is not None and kw.arg not in named
            ]
    return out


def test_scripts_exist():
    assert (ROOT / "bench.py").exists()
    assert len(SCRIPTS) > 1


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_package_imports_resolve(path):
    missing = [
        f"{path.name}:{line}: from {module} import {name}"
        for line, module, name, _ in _package_imports(path)
        if _resolve(module, name) is None
    ]
    assert not missing, "\n".join(missing)


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_package_keywords_resolve(path):
    stranded = _stranded_keywords(path)
    assert not stranded, "\n".join(stranded)
