"""Guard: every parquet read in the package declares its schema from the
files' footers (``sinks.read_parquet``), so none starts a Spark
schema-inference job.

This scans the package's AST, without importing it, for a bare
``<x>.read[...].parquet(...)`` or a call to the deleted
``read_parquet_merged`` outside the functions allowed to make one: the
helper itself, and the partitioned triple store, whose partition column
only Spark's discovery supplies.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "science_datalake_spark"
#: (file relative to the package, function) allowed a bare parquet read
ALLOWED = {
    ("sources/sinks.py", "read_parquet"),
    ("sparql.py", "read_triple_store"),
}


def _reads_through_reader(call: ast.Call) -> bool:
    """``<x>.read.parquet(...)``, also with ``.option``/``.schema`` calls
    between ``read`` and ``parquet``."""
    f = call.func
    if not (isinstance(f, ast.Attribute) and f.attr == "parquet"):
        return False
    node = f.value
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute) and node.attr == "read":
            return True
        node = node.func if isinstance(node, ast.Call) else node.value
    return False


def _calls_merged(call: ast.Call) -> bool:
    f = call.func
    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
    return name == "read_parquet_merged"


def _inference_reads(path: Path) -> list[tuple[str, str, int]]:
    """(file, enclosing top-level function, line) of each bare read."""
    rel = path.relative_to(PACKAGE).as_posix()
    found = []

    def scan(node: ast.AST, func: str) -> None:
        for child in ast.iter_child_nodes(node):
            inner = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) and func == "<module>":
                inner = child.name
            if isinstance(child, ast.Call) and (
                _reads_through_reader(child) or _calls_merged(child)
            ):
                found.append((rel, inner, child.lineno))
            scan(child, inner)

    scan(ast.parse(path.read_text(), filename=str(path)), "<module>")
    return found


def test_scanner_sees_the_allowed_reads():
    """The allowed functions really hold a bare read, so the scanner would
    see one anywhere else."""
    seen = {
        (rel, func)
        for path in PACKAGE.rglob("*.py")
        for rel, func, _ in _inference_reads(path)
    }
    assert ALLOWED <= seen, ALLOWED - seen


def test_no_parquet_read_infers_its_schema():
    bare = [
        f"{rel}:{line} in {func}()"
        for path in sorted(PACKAGE.rglob("*.py"))
        for rel, func, line in _inference_reads(path)
        if (rel, func) not in ALLOWED
    ]
    assert not bare, (
        "parquet read outside sinks.read_parquet (declare the schema from "
        "the footers instead):\n" + "\n".join(bare)
    )
