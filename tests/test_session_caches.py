"""The session-cache registry (``science_datalake_spark/cache.py``): its
contract, and a guard that no module keeps a cache of its own.

The guard scans the package's AST, without importing it, for a
module-level dict that the program fills at run time: one bound to an
empty dict (``{}``, ``dict()``, ``defaultdict(...)``, ``OrderedDict()``),
or one that the module stores into, deletes from or mutates with a dict
method. Read-only lookup tables pass. Outside ``cache.py`` only the query
registries in ``ALLOWED`` may do this.
"""

from __future__ import annotations

import ast
import types
from pathlib import Path

from science_datalake_spark import cache

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "science_datalake_spark"
#: (file relative to the package, global) allowed to be filled at run time
ALLOWED = {
    # @query registers each query here as its module is imported; the
    # registry is the set of queries, not a cache of results
    ("queries/__init__.py", "QUERIES"): "the query registry, filled by @query at import",
    ("queries/__init__.py", "ORACLE"): "each registered query's DuckDB oracle SQL",
    ("queries/__init__.py", "AUX_QUERIES"): "the auxiliary query registry, filled by @query",
    ("queries/__init__.py", "AUX_ORACLE"): "each auxiliary query's DuckDB oracle SQL",
}
_MUTATORS = {"pop", "popitem", "clear", "update", "setdefault", "__setitem__", "__delitem__"}
_EMPTY_CALLS = {"dict", "defaultdict", "OrderedDict"}


def _dict_value(value: ast.expr | None) -> str | None:
    """'empty' or 'filled' for a dict-valued expression, else None."""
    if isinstance(value, ast.Dict):
        return "filled" if value.keys else "empty"
    if isinstance(value, ast.DictComp):
        return "filled"
    if isinstance(value, ast.Call):
        f = value.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name == "dict" and (value.args or value.keywords):
            return "filled"
        if name in _EMPTY_CALLS:
            return "empty"
    return None


def _filled_at_run_time(source: str) -> set[str]:
    """Module-level dict globals of ``source`` that the program fills."""
    tree = ast.parse(source)
    dicts: dict[str, str] = {}
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            kind = _dict_value(node.value)
            if kind:
                dicts.update({t.id: kind for t in targets if isinstance(t, ast.Name)})
    mutated = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and isinstance(node.ctx, (ast.Store, ast.Del)):
            if isinstance(node.value, ast.Name):
                mutated.add(node.value.id)
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr in _MUTATORS and isinstance(node.func.value, ast.Name):
                mutated.add(node.func.value.id)
    return {name for name, kind in dicts.items() if kind == "empty" or name in mutated}


def _package_caches() -> set[tuple[str, str]]:
    return {
        (path.relative_to(PACKAGE).as_posix(), name)
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "cache.py" or path.parent != PACKAGE
        for name in _filled_at_run_time(path.read_text())
    }


def test_scanner_sees_filled_dicts():
    """The scanner flags an empty or mutated module-level dict, and the
    allowed registries, so it would see a cache anywhere else."""
    src = (
        "_A: dict = {}\n"
        "_B = dict()\n"
        "TABLE = {'k': 1}\n"
        "GROWN = {'k': 1}\n"
        "def f():\n"
        "    GROWN['j'] = 2\n"
        "    return TABLE['k']\n"
    )
    assert _filled_at_run_time(src) == {"_A", "_B", "GROWN"}
    assert set(ALLOWED) <= _package_caches()


def test_no_module_keeps_its_own_session_cache():
    found = sorted(_package_caches() - set(ALLOWED))
    assert not found, (
        "module-level dict filled at run time outside cache.py (route the "
        "cache through cache.cached / cache.hold):\n"
        + "\n".join(f"{rel}: {name}" for rel, name in found)
    )


def _app(app_id: str):
    """A stand-in session: ``cached`` reads only its application id."""
    return types.SimpleNamespace(sparkContext=types.SimpleNamespace(applicationId=app_id))


def _boom():
    raise AssertionError("this call must hit")


def test_changed_signature_releases_the_stale_entry_before_the_rebuild(spark):
    """A hit needs an equal signature. On a changed one the stale frame is
    unpersisted before ``build`` runs, so the rebuild's persist of an
    equal plan caches fresh data instead of finding the stale blocks."""
    app = _app("sig-app")
    old = spark.range(11).persist()
    assert cache.cached(app, "test.sig", (1,), ("v1",), lambda: old, cap=2) is old
    assert cache.cached(app, "test.sig", (1,), ("v1",), _boom, cap=2) is old
    seen = []

    def rebuild():
        seen.append(old.storageLevel.useMemory)
        return spark.range(11).persist()

    new = cache.cached(app, "test.sig", (1,), ("v2",), rebuild, cap=2)
    assert seen == [False], "the stale handle is unpersisted first"
    assert new is not old and new.storageLevel.useMemory
    assert cache.cached(app, "test.sig", (1,), ("v2",), _boom, cap=2) is new
    new.unpersist()


def test_fifo_eviction_releases_the_oldest_entry(spark):
    """At ``cap`` entries per name the oldest is dropped and its persisted
    frames (also those inside a tuple value) are unpersisted; frames it
    did not persist are left alone, and other names are not counted."""
    app = _app("fifo-app")
    frames = [spark.range(100 + i).persist() for i in range(3)]
    plain = spark.range(99)
    values = [(plain, frames[0]), frames[1], frames[2]]
    for i, v in enumerate(values):
        cache.cached(app, "test.fifo", (i,), (), lambda v=v: v, cap=2)
        cache.cached(app, "test.fifo.other", (i,), (), lambda: i, cap=3)
    assert not frames[0].storageLevel.useMemory
    assert not plain.is_cached
    assert all(f.storageLevel.useMemory for f in frames[1:])
    assert cache.cached(app, "test.fifo", (2,), (), _boom, cap=2) is frames[2]
    assert cache.cached(app, "test.fifo.other", (0,), (), _boom, cap=3) == 0
    for f in frames:
        f.unpersist()


def test_another_application_never_hits():
    """Entries are keyed by application id: a new session never gets a
    value built (and persisted) under a stopped one."""
    built = []

    def build(app_id):
        return lambda: built.append(app_id) or app_id

    for app_id in ("app-1", "app-2", "app-1"):
        got = cache.cached(_app(app_id), "test.app", ("p",), (), build(app_id), cap=4)
        assert got == app_id
    assert built == ["app-1", "app-2"]


def test_hold_keeps_one_result_per_slot(spark):
    """``hold`` persists the slot's new result after releasing its
    previous one, so an equal plan comes back cached; other slots keep
    theirs."""
    first = cache.hold("test.slot", spark.range(7))
    other = cache.hold("test.slot.other", spark.range(5))
    first.count()
    assert first.storageLevel.useMemory
    second = cache.hold("test.slot", spark.range(8))
    assert not first.storageLevel.useMemory and second.storageLevel.useMemory
    third = cache.hold("test.slot", spark.range(8))
    assert third.storageLevel.useMemory, "an equal plan is cached after the release"
    assert other.storageLevel.useMemory
    third.unpersist()
    other.unpersist()


def test_clear_releases_every_entry(spark):
    app = _app("clear-app")
    frames = [spark.range(200 + i).persist() for i in range(2)]
    for i, f in enumerate(frames):
        cache.cached(app, "test.clear", (i,), (), lambda f=f: f, cap=2)
    cache.clear()
    assert not any(f.storageLevel.useMemory for f in frames)
    built = cache.cached(app, "test.clear", (0,), (), lambda: "rebuilt", cap=2)
    assert built == "rebuilt"
