"""Property-based tests (hypothesis) for the pure scalar logic the engine
depends on most: DOI cleaning, Jaro-Winkler, SQL guard, OBO parsing."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from science_datalake_spark.cli import UnsafeSQLError, guard_sql
from science_datalake_spark.operators.linkage import jaro_winkler_py

TEXT = st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00"), max_size=30)


@given(TEXT, TEXT)
@settings(max_examples=300, deadline=None)
def test_jaro_winkler_properties(a, b):
    s = jaro_winkler_py(a, b)
    assert 0.0 <= s <= 1.0
    assert jaro_winkler_py(b, a) == pytest.approx(s)  # symmetric
    if a and a == b:
        assert s == 1.0


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


@given(st.lists(st.tuples(TEXT, TEXT), min_size=1, max_size=20))
@settings(max_examples=60, deadline=None)
def test_jaro_winkler_matches_duckdb(pairs):
    con = duckdb.connect()
    for a, b in pairs:
        d = con.sql("SELECT jaro_winkler_similarity(?, ?)", params=[a, b]).fetchone()[0]
        assert jaro_winkler_py(a, b) == pytest.approx(d, abs=1e-12)
    con.close()


@given(st.text(max_size=100))
@settings(max_examples=200, deadline=None)
def test_guard_sql_never_allows_ddl(sql):
    try:
        guarded = guard_sql(sql)
    except UnsafeSQLError:
        return
    low = guarded.lower()
    assert low.startswith(("select", "with"))
    for kw in ("drop", "delete", "insert", "update", "create", "truncate"):
        assert f" {kw} " not in f" {low} "
    assert "limit" in low


@given(st.integers(min_value=0, max_value=3))
def test_clean_doi_idempotent_on_variants(variant):
    """clean_doi(clean_doi(x)) == clean_doi(x) for all synthesized forms —
    checked via DuckDB on the same expression semantics."""
    base = "10.1234/some.id"
    forms = [base, f"https://doi.org/{base}", f"HTTPS://DOI.ORG/{base}", f"doi.org/{base}"]
    raw = forms[variant]
    con = duckdb.connect()
    clean = con.sql(
        "SELECT lower(coalesce(nullif(regexp_extract(lower(?), 'doi\\.org/(.+)$', 1), ''), ?))",
        params=[raw, raw],
    ).fetchone()[0]
    clean2 = con.sql(
        "SELECT lower(coalesce(nullif(regexp_extract(lower(?), 'doi\\.org/(.+)$', 1), ''), ?))",
        params=[clean, clean],
    ).fetchone()[0]
    assert clean == base == clean2
    con.close()


# --- RDF parser round-trips -------------------------------------------------

_IRI = st.from_regex(r"http://ex\.org/[A-Za-z0-9_]{1,12}", fullmatch=True)
_LANG = st.one_of(st.none(), st.sampled_from(["en", "fr", "de", "pt-BR"]))
# literal alphabet: printable ASCII minus backslash — the dependency-free
# parsers handle the common \" escape, not the full N-Triples escape
# table, and spec-compliant serializers escape control characters anyway
_LIT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126, exclude_characters="\\"),
    max_size=24,
)
_QUAD = st.one_of(
    st.tuples(_IRI, _IRI, _IRI, st.none()),
    st.tuples(_IRI, _IRI, _LIT, _LANG),
)


def _nt_serialize(quads) -> str:
    lines = []
    for s, p, o, lang in quads:
        if lang is None and o.startswith("http://"):
            obj = f"<{o}>"
        else:
            obj = '"' + o.replace('"', '\\"') + '"' + (f"@{lang}" if lang else "")
        lines.append(f"<{s}> <{p}> {obj} .")
    return "\n".join(lines)


# every N-Triples document is valid Turtle — one serializer covers both
_ttl_serialize = _nt_serialize


@given(st.lists(_QUAD, max_size=15))
@settings(max_examples=120, deadline=None)
def test_ntriples_roundtrip(quads):
    """serialize → parse recovers exactly the quads (IRI objects that are
    not http IRIs serialize as literals, matching the parse side)."""
    from science_datalake_spark.sources.ontology import parse_ntriples

    assert parse_ntriples(_nt_serialize(quads)) == [
        (s, p, o, lang) for s, p, o, lang in quads
    ]


@given(st.lists(_QUAD, max_size=15))
@settings(max_examples=120, deadline=None)
def test_turtle_roundtrip(quads):
    from science_datalake_spark.sources.ontology import parse_turtle

    assert parse_turtle(_ttl_serialize(quads)) == [
        (s, p, o, lang) for s, p, o, lang in quads
    ]


@given(st.text(max_size=120))
@settings(max_examples=150, deadline=None)
def test_turtle_parser_total(garbage):
    """The tolerant Turtle parser never raises on arbitrary input."""
    from science_datalake_spark.sources.ontology import parse_turtle

    parse_turtle(garbage)


@given(st.text(max_size=80))
@settings(max_examples=150, deadline=None)
def test_sparql_errors_are_typed(garbage):
    """The SPARQL front-end either parses or raises SparqlError — never a
    raw IndexError/ValueError (webapp/CLI catch the typed error)."""
    from science_datalake_spark.sparql import SparqlError, _Parser

    try:
        _Parser(garbage).parse()
    except SparqlError:
        pass


UNI_TEXT = st.text(
    alphabet=st.characters(exclude_characters="\x00", exclude_categories=("Cs",)),
    max_size=40,
)


@given(st.lists(st.tuples(UNI_TEXT, UNI_TEXT), min_size=1, max_size=40))
@settings(max_examples=200, deadline=None)
def test_jaro_winkler_batch_bit_identical_to_scalar(pairs):
    """The numpy-vectorized batch engine (the no-rapidfuzz UDF fast path)
    must be BIT-identical to the scalar reference on arbitrary unicode
    batches — the mixed-length padding, window clamping, transposition
    packing, and prefix-boost arithmetic all mirror the scalar
    evaluation order exactly."""
    from science_datalake_spark.operators.linkage import _jaro_winkler_batch

    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    got = _jaro_winkler_batch(a, b)
    want = [jaro_winkler_py(x, y) for x, y in pairs]
    assert got == want


# --- LSH star edges: connectivity-equivalence property ----------------------
#
# lsh_star_edges (operators/dedup.py) replaces each LSH bucket's clique
# with a bucket-min star and claims the transitive closure is identical.
# The Spark test pins one corpus; this pins the MATH for arbitrary bucket
# assignments: for any doc->buckets map, union-find over clique edges and
# over star edges must produce identical components.

_BUCKETS = st.dictionaries(
    st.integers(min_value=0, max_value=30),  # doc id
    st.sets(st.integers(min_value=0, max_value=10), max_size=4),  # buckets
    max_size=20,
)


def _components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return frozenset(
        frozenset(n for n in nodes if find(n) == root)
        for root in {find(n) for n in nodes}
    )


@given(_BUCKETS)
@settings(max_examples=300, deadline=None)
def test_star_edges_preserve_bucket_clique_components(assign):
    from collections import defaultdict

    members = defaultdict(set)
    for doc, buckets in assign.items():
        for b in buckets:
            members[b].add(doc)
    clique = {
        (a, b)
        for docs in members.values()
        for a in docs
        for b in docs
        if a < b
    }
    star = {
        (min(docs), d)
        for docs in members.values()
        if len(docs) > 1
        for d in docs
        if d != min(docs)
    }
    assert all(a < b for a, b in star)
    assert len(star) <= len(clique)
    nodes = {d for pair in clique for d in pair}
    assert _components(star, nodes) == _components(clique, nodes)
