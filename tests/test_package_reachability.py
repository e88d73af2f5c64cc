"""Reachability guard for the package's library surface.

Walks the AST of every package module — without importing any of them —
from the user entry points: every def in ``cli``, ``webapp`` and
``pipeline``, every ``@query``-registered query, and all code in
``bench.py``, ``__spark_entry__.py``, ``tools/*.py`` and
``perfbench/*.py``. A top-level def is reached when reached code names
it: a bare name, an imported name (at any nesting depth), or an
attribute of an imported module. A reached def reaches its module's
top-level code, which runs at import.

A top-level def that no entry point reaches stays only if it is listed
in ``KEEP`` with its reason, or is a helper of a listed def: a reference
capability (a SURVEY.md section), a test reference that a faster form is
checked against, or an open ROADMAP item that builds on it. Anything
else is dead surface: delete it, with the tests that exercise only it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "science_datalake_spark"
ENTRY_MODULES = ("cli", "webapp", "pipeline")
SCRIPTS = (
    [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    + sorted(ROOT.glob("tools/*.py"))
    + sorted(ROOT.glob("perfbench/*.py"))
)

_SANITY_REF = "test reference: the one-check runs that run_core's fused pass is compared with"
_GATE_REF = "test reference: the Column form that quality_gate_flags is checked against"
_ZORDER = "SURVEY §4 optional index build (CREATE INDEX idx_doi): Z-order clustering by doi"
_ONTOLOGY = "SURVEY §2.1 S7-S9: OBO / N-Triples / CSV ontology converters"
_BATTERY = "SURVEY §2.8: convert_openalex.py sub-table extraction (LATERAL UNNEST)"

KEEP: dict[str, str] = {
    "acquisition.ManifestAcquirer": "SURVEY §3.2 download step: resumable, checksum-verified fetch",
    "acquisition.ontology_manifest": "SURVEY §3.2 download step: the ontology sources' manifest",
    "cache.clear": "ROADMAP item 2: drop the session caches to time a cold build again",
    "config.find_datalake_root": "SURVEY §3.1: DB_PATH resolution (walk up for datalake.json)",
    "config.load_config": "SURVEY §3.1: reads the datalake.json that find_datalake_root finds",
    "evaluation.evaluate_alignment": "SURVEY §5 item 2: alignment P/R/F1 at thresholds",
    "evaluation.annotated_pr_curve": "SURVEY §5 item 2: PR curve over the annotated gold sample",
    "fulltext.fulltext_stats": "SURVEY §2.4 A2/A3/A5: materialize_fulltext.py corpus stats",
    "functions.valid_title_abstract": "SURVEY §2.9: is_valid_title_abstract / is_readable_text",
    "operators.embedding.embed": "SURVEY §2.9 embedding encode: the hashed stand-in encoder",
    "operators.embedding.dequantize_int8": "test reference: inverse of quantize_int8 in its round-trip bound tests",
    "operators.graph.k_hop": "SURVEY §1.1: ontology hierarchy traversal as an iterative join",
    "operators.linkage.xref_bridge_join": "SURVEY §2.3 J9: pairwise ontology xref bridge join",
    "operators.ranking.tfidf_vectors": "SURVEY §2.9 / §5 item 3: TF-IDF baseline scorer",
    "operators.sampling.exact_n_sample": "SURVEY §2.6 O4: exact-n random sample",
    "operators.sampling.stratified_sample": "SURVEY §5 item 2: stratified gold-standard sample",
    "operators.stats.exact_group_quantiles": "test reference for the parallel and histogram quantile engines",
    "operators.textops.quality_gate": _GATE_REF,
    "operators.textops.dup_bigram_fraction": _GATE_REF,
    "operators.textops.dup_token_fraction": _GATE_REF,
    "operators.zorder.write_zordered": _ZORDER,
    "operators.zorder.zorder_key": _ZORDER,
    "sanity.check_citation_corr": _SANITY_REF,
    "sanity.check_doi_format": _SANITY_REF,
    "sanity.check_flags_match_nullness": _SANITY_REF,
    "sanity.check_known_entity": _SANITY_REF,
    "sanity.check_pk_unique": _SANITY_REF,
    "sanity.check_retraction_rate": _SANITY_REF,
    "sanity.check_year_distribution": _SANITY_REF,
    "sources.archives.read_jats_archives": "SURVEY §2.1 S5: JATS XML in tar.gz",
    "sources.extraction.extract_battery": _BATTERY,
    "sources.openalex_battery.works_battery": _BATTERY,
    "sources.openalex_battery.authors_battery": _BATTERY,
    "sources.ontology.obo_to_tables": _ONTOLOGY,
    "sources.ontology.ntriples_to_tables": _ONTOLOGY,
    "sources.ontology_csv.cso_csv_to_tables": _ONTOLOGY,
    "sources.ontology_csv.msc_csv_to_tables": _ONTOLOGY,
    "sources.ontology_registry.convert": _ONTOLOGY,
    "sources.sinks.upsert_parquet": "ROADMAP item 6: partition-scoped MERGE for mergeable unify state",
    "sparql.sparql_ask": "SURVEY §2.1 S17: SPARQL ASK over the triple store",
    "sparql.write_triple_store": "SURVEY §2.1 S17: RDF triple-store sink",
    "synth.expected_unified": "test reference: Python-mirrored golden counts for the synthetic unify",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _chain(node: ast.Attribute) -> tuple[ast.expr, list[str]]:
    """``a.b.c`` -> (Name a, ["b", "c"])."""
    attrs: list[str] = []
    while isinstance(node, ast.Attribute):
        attrs.append(node.attr)
        node = node.value
    return node, attrs[::-1]


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


class _Graph:
    """Top-level defs of the package and the names each piece of code uses.

    A node is ``(module, def_name)``, or ``(module, None)`` for the
    module's top-level code."""

    def __init__(self) -> None:
        self.trees = {
            _module_name(p): ast.parse(p.read_text(), filename=str(p))
            for p in sorted((ROOT / PACKAGE).rglob("*.py"))
        }
        self.defs = {
            mod: {n.name: n for n in tree.body if isinstance(n, _DEFS)}
            for mod, tree in self.trees.items()
        }
        self.top_aliases = {
            mod: self._aliases([s for s in tree.body if not isinstance(s, _DEFS)])
            for mod, tree in self.trees.items()
        }

    def _aliases(self, stmts: list[ast.stmt]) -> dict[str, tuple]:
        """Local name -> ("mod", module) or ("attr", module, name), for
        every absolute package import anywhere inside ``stmts`` (the
        package has no relative imports; one would read as unreached)."""
        out: dict[str, tuple] = {}
        for stmt in stmts:
            for node in ast.walk(stmt):
                if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
                    if node.module.split(".")[0] == PACKAGE:
                        for a in node.names:
                            sub = f"{node.module}.{a.name}"
                            out[a.asname or a.name] = (
                                ("mod", sub) if sub in self.trees else ("attr", node.module, a.name)
                            )
                elif isinstance(node, ast.Import):
                    for a in node.names:
                        if a.name.split(".")[0] == PACKAGE:
                            out[a.asname or PACKAGE] = ("mod", a.name if a.asname else PACKAGE)
        return out

    def _target(self, alias: tuple, seen: frozenset = frozenset()) -> list[tuple]:
        """Nodes an alias stands for (follows re-exports)."""
        if alias[0] == "mod":
            return [(alias[1], None)] if alias[1] in self.trees else []
        _, module, name = alias
        if module not in self.trees or (module, name) in seen:
            return []
        hits = [(module, None)]
        if name in self.defs[module]:
            hits.append((module, name))
        elif name in self.top_aliases[module]:
            hits += self._target(self.top_aliases[module][name], seen | {(module, name)})
        return hits

    def uses(self, mod: str, stmts: list[ast.stmt]) -> set[tuple]:
        """Nodes named by ``stmts`` of module ``mod``."""
        local = self._aliases(stmts)
        scope = {**self.top_aliases.get(mod, {}), **local}
        local_defs = self.defs.get(mod, {})
        out: set[tuple] = set()
        for alias in local.values():
            out.update(self._target(alias))
        for stmt in stmts:
            for node in ast.walk(stmt):
                if isinstance(node, ast.Name):
                    if node.id in scope:
                        out.update(self._target(scope[node.id]))
                    elif node.id in local_defs:
                        out.add((mod, node.id))
                elif isinstance(node, ast.Attribute):
                    base, attrs = _chain(node)
                    alias = scope.get(base.id) if isinstance(base, ast.Name) else None
                    if alias is None or alias[0] != "mod":
                        continue
                    module = alias[1]
                    for attr in attrs:  # pkg.sub.mod.name
                        if f"{module}.{attr}" not in self.trees:
                            out.update(self._target(("attr", module, attr)))
                            break
                        module = f"{module}.{attr}"
                        out.add((module, None))
        return out

    def edges(self, node: tuple) -> set[tuple]:
        mod, name = node
        if name is None:
            body = [s for s in self.trees[mod].body if not isinstance(s, _DEFS)]
            # importing a.b.c runs a and a.b first
            parents = {(".".join(mod.split(".")[:i]), None) for i in range(1, mod.count(".") + 1)}
            return self.uses(mod, body) | parents
        return self.uses(mod, [self.defs[mod][name]]) | {(mod, None)}


def _is_query(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        func = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(func, ast.Name) and func.id == "query":
            return True
    return False


def _closure(g: _Graph, roots: set[tuple]) -> set[tuple]:
    seen, todo = set(roots), list(roots)
    while todo:
        for nxt in g.edges(todo.pop()):
            if nxt not in seen and nxt[0] in g.trees:
                seen.add(nxt)
                todo.append(nxt)
    return seen


def _key(mod: str, name: str) -> str:
    return f"{mod.removeprefix(PACKAGE + '.')}.{name}"


def unreached(keep: dict[str, str] | None = None) -> set[str]:
    """``module.def`` (relative to the package) for every top-level
    package def that neither an entry point nor a ``keep`` entry reaches."""
    g = _Graph()
    roots: set[tuple] = set()
    for mod, defs in g.defs.items():
        short = mod.removeprefix(PACKAGE + ".")
        if short in ENTRY_MODULES:
            roots |= {(mod, None)} | {(mod, n) for n in defs}
        roots |= {(mod, n) for n, d in defs.items() if _is_query(d)}
        roots |= {(mod, n) for n in defs if _key(mod, n) in (keep or {})}
    for path in SCRIPTS:
        tree = ast.parse(path.read_text(), filename=str(path))
        roots |= g.uses("", tree.body)
    seen = _closure(g, roots)
    return {_key(mod, n) for mod, defs in g.defs.items() for n in defs if (mod, n) not in seen}


def test_every_unreached_def_has_a_reason():
    missing = sorted(unreached(KEEP))
    assert not missing, (
        "top-level defs that no entry point reaches; delete them or add "
        "them to KEEP with a reason:\n" + "\n".join(missing)
    )


def test_keep_entries_are_live():
    """A KEEP entry for a def that was deleted, or that an entry point
    now reaches, is stale."""
    dead = unreached()
    stale = sorted(k for k in KEEP if k not in dead)
    assert not stale, "stale KEEP entries:\n" + "\n".join(stale)
