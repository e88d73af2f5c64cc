"""SPARQL → DataFrame mini-translator (SURVEY §7.3's "if needed later" —
the last uncovered reference surface).

The reference loads ontology triples into Oxigraph for SPARQL access
(scripts/sparql_query.py:44-143); SURVEY §7.3 defers a triple store
because the Parquet 3-table model carries the same content. This module
closes the remaining gap for the QUERY side: a SPARQL subset is
translated into Catalyst plans over a plain ``(s, p, o, lang)`` triples
DataFrame, so hierarchy/label questions written as SPARQL run
distributed, with predicate filters pushed into the Parquet scan like any
other DataFrame filter.

Supported subset:
- ``PREFIX pfx: <iri>`` declarations
- ``SELECT ?a ?b`` / ``SELECT DISTINCT ?a`` / ``SELECT *``
- ``WHERE { ... }`` group graph patterns with:
  - triple patterns of IRIs (``<...>``/``pfx:local``/``a``), literals
    (``"..."``/``"..."@lang``), and ``?variables``; ``;``-lists
  - ``OPTIONAL { ... }`` → left outer join on the shared variables
  - ``{ ... } UNION { ... }`` → aligned unionByName (unbound → NULL)
  - ``FILTER (expr)`` with ``= != < <= > >= && || !``, parentheses,
    ``REGEX(?v, "re")``, ``CONTAINS(?v, "s")``, ``STRSTARTS(?v, "s")``,
    ``BOUND(?v)``, and ``LANG(?v)`` as a comparable value (the literal's
    tag via a ``__lang_`` companion column carried from the object
    binding; '' for plain literals, IRIs, and path-bound values — the
    common ``FILTER (LANG(?label) = "en")`` SKOS idiom); numeric
    literals compare numerically (try_cast); IRI / prefixed-name
    operands compare as their expanded strings
  - ``FILTER [NOT] EXISTS { ... }`` → semi/anti join on the shared
    variables (a constant-key LIMIT-1 probe when none are shared) —
    supported at the top of a FILTER, not nested inside ``&&``/``||``
  - ``MINUS { ... }`` → left-anti join on the shared variables;
    with NO shared variables it removes nothing (the spec's
    disjoint-domain rule — the observable difference from NOT
    EXISTS); compatibility is bound-equality (an OPTIONAL-unbound
    NULL never matches)
  - ``{ SELECT ... }`` subqueries (SPARQL 1.1 §12): evaluated
    bottom-up with the full SELECT feature set (aggregates, ORDER
    BY/LIMIT, DISTINCT, nested subqueries), then joined into the
    enclosing group on the variables the subquery projects — the
    aggregate-then-join idiom (per-parent counts joined back to
    labels). PREFIXes come from the top-level prologue
- ``ORDER BY ?v ... / ASC(?v) / DESC(?v)`` on result variables
  (plain column ordering: NULL/unbound sorts first ascending — the
  common case of SPARQL's type-ordered comparison; with LIMIT it lowers
  to Spark's TakeOrderedAndProject top-k, never a global sort)
- ``LIMIT n`` / ``OFFSET n`` (either order)
- ``ASK [WHERE] { ... }`` — boolean existence (LIMIT-1 probe; the
  reference CLI's bool branch, sparql_query.py:100-104); plus the
  reference's no-PREFIX convenience via ``with_common_prefixes``
- property paths on CONSTANT predicates: ``pred*`` / ``pred+`` (the
  ontology ancestor-walk shape, ``rdfs:subClassOf*`` /
  ``skos:broader+``): the predicate's edge subset is closed by
  ``operators/graph.transitive_closure`` (iterated-doubling self-join,
  O(log diameter) rounds, checkpointed lineage) and the closure joins
  into the BGP like any other pattern. ``*`` adds the zero-length
  matches: a constant end matches itself; a var-var pattern pairs every
  graph term with itself (SPARQL ZeroLengthPath semantics). Composite
  paths: sequence ``p1/p2`` (chained through fresh internal variables —
  each hop keeps its pushed predicate filter), alternative ``p1|p2``
  (bag union of branch matches; ``|`` binds looser than ``/``), and
  inverse ``^p`` (endpoint swap), composable with ``*``/``+``/``?``
  (zero-or-one: the one-hop edges plus the zero-length matches, no
  closure) per step; negated property sets ``!p`` / ``!(a|b|^c)``
  (one pushed NOT-IN predicate scan per direction component, unioned
  per the spec's alt() split); grouped paths ``(p1/p2)+`` and
  quantified negated sets ``!(a|b)*`` / ``!skos:broader+`` (the inner
  path lowers to its endpoint-pair edge relation once, the quantifier
  closes/extends it exactly like a single-predicate closure — set
  semantics under quantifiers per the spec's ALP, bag otherwise).
  Variable predicates with any path operator raise — by the 1.1
  grammar a variable is not a path element (a BARE variable predicate
  is a plain triple pattern, supported); the raise is the malformed-
  query cue.
- aggregates: ``(FN([DISTINCT] * | ?v) AS ?n)`` for FN ∈ COUNT / SUM /
  AVG / MIN / MAX / SAMPLE / GROUP_CONCAT(… ; SEPARATOR="s") in the
  SELECT list with ``GROUP BY ?a ?b`` — the ontology-statistics shapes
  (term counts / average synonym counts per namespace). Delegates to a
  DataFrame groupBy (one partial-combinable hash aggregate); SUM/AVG
  try_cast to DOUBLE (non-numeric bindings skip, SPARQL's
  error-dropping), MIN/MAX compare lexically on the string bindings,
  SAMPLE and GROUP_CONCAT order deterministically (documented
  refinements of SPARQL's any-value/any-order latitude). The SPARQL 1.1
  projection restriction (non-aggregate SELECT vars must be grouped) is
  enforced at parse time. ``HAVING (expr)`` with aggregate calls as
  operands (``HAVING (COUNT(?x) > 5 && SUM(?w) < 10)``) computes the
  HAVING aggregates as internal columns of the SAME hash aggregate and
  filters post-agg — one shuffle total.
- ``BIND(expr AS ?v)`` with variables, literals, CONCAT/STR/LANG, and
  whitespace-separated ``+ - * /`` arithmetic (try_cast-numeric)
- ``VALUES ?x { ... }`` / ``VALUES (?x ?y) { (...) (...) }`` inline
  data blocks (UNDEF → NULL binding), joined like any pattern
The draft-era ``{n}``/``{n,}``/``{n,m}`` range quantifier (dropped from
the SPARQL 1.1 REC, kept by several engines) is supported on predicates,
groups and negated sets: the bounded form is a union of edge powers
(the bound is a query literal, so the plan stays finite), the open form
composes the n-hop floor with the 1..∞ closure, and ``{0,…}`` joins the
ZeroLengthPath union exactly like ``*``. Path evaluation runs
the closure's fixed-point loop EAGERLY (one count action per round);
everything else stays lazy. Caveat vs full SPARQL
semantics: a variable bound to NULL by OPTIONAL/UNION padding does not
join with later patterns (Spark join-on-null), whereas SPARQL treats
unbound as compatible — keep OPTIONAL/UNION blocks after the patterns
that bind their shared variables, as every reference query does.

Translation: each triple pattern becomes a filtered projection of the
triples relation (constants → pushed filters, variables → renamed
columns, repeated variables inside one pattern → equality filters);
patterns join pairwise on their shared variables (hash joins on variable
columns; patterns sharing none cross-join, which is correct BGP
semantics); group-scoped FILTERs apply after the group's patterns are
joined. A constant-predicate pattern therefore scans only its predicate's
row group range once triples are stored predicate-sorted — the classic
vertical-partitioning RDF layout falls out of
``write_parquet_partitioned(partition_cols=["p"])``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from science_datalake_spark.util import local_df

TRIPLES_SCHEMA = "s STRING, p STRING, o STRING, lang STRING"

#: fresh-variable counter for sequence-path internal joins
import itertools as _itertools

_PATH_IDS = _itertools.count()

_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def quads_to_triples_df(spark: SparkSession, quads: list[tuple]) -> DataFrame:
    """Parser quads (sources/ontology.py) → the queryable triples relation."""
    return local_df(spark, [tuple(q) for q in quads], TRIPLES_SCHEMA)


@dataclass(frozen=True)
class _Term:
    kind: str  # "var" | "iri" | "lit"
    value: str
    lang: str | None = None


@dataclass(frozen=True)
class _Path:
    """A constant-predicate property path: ``iri*``, ``iri+`` or ``iri?``."""

    iri: str
    mod: str  # "*" | "+" | "?"


@dataclass(frozen=True)
class _PathNeg:
    """``!iri`` / ``!(a|b|^c)`` — negated property set (SPARQL 1.1
    PathNegatedPropertySet). ``forward`` and ``inverse`` hold the
    excluded IRIs per direction; the match is the UNION of a forward
    component (any triple whose predicate is outside ``forward``, only
    present when the set names forward IRIs) and an endpoint-swapped
    inverse component (predicate outside ``inverse``, only when the set
    names ``^``-items) — the spec's alt(NPS(fwd), ^NPS(inv)) split."""

    forward: tuple
    inverse: tuple


@dataclass(frozen=True)
class _PathGroup:
    """``( path )`` with an optional quantifier — SPARQL 1.1 grammar
    ``PathPrimary ::= ... | '(' Path ')'`` composed with ``PathMod``, and
    the same node carries quantified negated sets (``!(a|b)*``: grammar
    puts the modifier on the PathElt wrapping the set). ``inner`` is any
    path AST (step/seq/alt/negated set); ``mod`` ∈ {None, '*', '+', '?'}
    or ``("range", lo, hi)`` for the ``{n}``/``{n,}``/``{n,m}`` bounded
    repetition (hi=None for the open form)."""

    inner: object
    mod: "str | tuple | None" = None


@dataclass(frozen=True)
class _PathStep:
    """One step of a composite path: a plain IRI, a ``_Path``, a
    ``_PathNeg`` or a ``_PathGroup``, possibly inverse (``^pred`` swaps
    subject and object)."""

    pred: object  # _Term (iri) | _Path | _PathNeg | _PathGroup
    inverse: bool = False


@dataclass(frozen=True)
class _PathSeq:
    """``p1/p2/...`` — sequence path (joined through fresh internal
    variables)."""

    steps: tuple


@dataclass(frozen=True)
class _PathAlt:
    """``a|b|...`` — alternative path (bag union of branch matches);
    each branch is a _PathStep or _PathSeq (SPARQL precedence: ``|``
    binds looser than ``/``)."""

    branches: tuple


@dataclass
class _Group:
    """One { ... } group: ordered elements + group-scoped filters."""

    elements: list = field(default_factory=list)  # ("bgp", [(s,p,o)...]) | ("optional", _Group) | ("union", [_Group,...]) | ("minus", _Group)
    filters: list = field(default_factory=list)  # filter ASTs
    exists: list = field(default_factory=list)  # (positive: bool, _Group) from FILTER [NOT] EXISTS


@dataclass(frozen=True)
class _Agg:
    """``(FN([DISTINCT] * | ?v) AS ?n)`` in a SELECT list. FN ∈ COUNT /
    SUM / AVG / MIN / MAX / SAMPLE / GROUP_CONCAT (SPARQL 1.1's set
    functions, sparql_query.py:89-143 accepts all via Oxigraph).
    COUNT(?v) counts BOUND solutions only (SPARQL's error-skipping
    semantics == SQL count's null-skipping); SUM/AVG skip bindings that
    are not numeric literals the same way (try_cast → NULL → skipped).
    ``sep`` is GROUP_CONCAT's SEPARATOR (default " ", the SPARQL 1.1
    default)."""

    fn: str
    var: str | None  # None == COUNT(*)
    distinct: bool
    out: str
    sep: str = " "


_TOKEN = re.compile(
    r"""
    (?P<iriref><[^<>\s]*>)
  | (?P<string>"(?:[^"\\]|\\.)*")(?:@(?P<lang>[a-zA-Z-]+))?
  | (?P<var>\?[A-Za-z_][\w]*)
  | (?P<num>-?\d+(?:\.\d+)?)
  | (?P<op>&&|\|\||!=|<=|>=|[()=<>!,/|^])
  | (?P<punct>[{}.;])
  | (?P<word>[^\s{}.;()=<>!,&|/^]+)
  | (?P<ws>\s+)
    """,
    re.X,
)


class SparqlError(ValueError):
    pass


def _tokenize(text: str) -> list[tuple[str, str, str | None]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if m is None:
            raise SparqlError(f"cannot tokenize at: {text[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup if m.lastgroup != "lang" else "string"
        if kind == "ws":
            continue
        out.append((kind, m.group(kind), m.group("lang") if kind == "string" else None))
    return out


class _Parser:
    def __init__(self, query: str):
        self.toks = _tokenize(query)
        self.i = 0
        self.prefixes: dict[str, str] = {}

    # -- token helpers ------------------------------------------------------
    def peek(self) -> tuple[str, str, str | None] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> tuple[str, str, str | None]:
        if self.i >= len(self.toks):
            raise SparqlError("unexpected end of query")
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, value: str) -> None:
        t = self.peek()
        if t is None or t[1] != value:
            raise SparqlError(f"expected {value!r}, got {t[1] if t else 'EOF'!r}")
        self.i += 1

    def at_word(self, word: str) -> bool:
        t = self.peek()
        return t is not None and t[1].upper() == word

    # -- grammar ------------------------------------------------------------
    def parse(self):
        while self.at_word("PREFIX"):
            self.i += 1
            pfx = self.next()[1]
            iri = self.next()[1]
            if not pfx.endswith(":") or not iri.startswith("<"):
                raise SparqlError(f"malformed PREFIX near {pfx} {iri}")
            self.prefixes[pfx[:-1]] = iri[1:-1]
        return self.parse_query_body(top=True)

    def parse_query_body(self, top: bool):
        """ASK/SELECT clause through its solution modifiers. ``top``
        asserts end-of-input afterwards; a subquery caller instead
        leaves the closing ``}`` for parse_group to consume."""
        ask = False
        if self.at_word("ASK"):
            # ASK [WHERE] { ... } — boolean existence query (the
            # reference CLI's run_query handles the bool result branch,
            # sparql_query.py:100-104)
            self.i += 1
            ask = True
            if self.at_word("WHERE"):
                self.i += 1
            group = self.parse_group()
            if top and self.i != len(self.toks):
                raise SparqlError(
                    f"trailing tokens after ASK: {[t[1] for t in self.toks[self.i:]]}"
                )
            if not group.elements:
                raise SparqlError("empty graph pattern")
            return [], False, False, group, None, None, [], [], [], ask
        if not self.at_word("SELECT"):
            raise SparqlError("expected SELECT or ASK")
        self.i += 1
        distinct = self.at_word("DISTINCT")
        if distinct:
            self.i += 1
        select_list: list[str | _Agg] = []
        star = False
        while not self.at_word("WHERE"):
            t = self.peek()
            if t is None:
                raise SparqlError("expected WHERE")
            kind, val, _ = t
            if val == "*":
                star = True
                self.i += 1
            elif kind == "var":
                select_list.append(val[1:])
                self.i += 1
            elif val == "(":
                select_list.append(self.parse_select_agg())
            else:
                raise SparqlError(f"unexpected token in SELECT list: {val!r}")
        self.i += 1  # WHERE
        group = self.parse_group()
        group_by: list[str] = []
        if self.at_word("GROUP"):
            self.i += 1
            if not self.at_word("BY"):
                raise SparqlError("expected BY after GROUP")
            self.i += 1
            while True:
                t = self.peek()
                if t is None or t[0] != "var":
                    break
                group_by.append(t[1][1:])
                self.i += 1
            if not group_by:
                raise SparqlError("GROUP BY requires at least one ?variable")
        having: list = []
        while self.at_word("HAVING"):
            # HAVING (expr) — the filter grammar, with aggregate calls
            # allowed as operands (SPARQL 1.1: HAVING(COUNT(?x) > 5))
            self.i += 1
            self._in_having = True
            try:
                having.append(self.parse_filter_expr())
            finally:
                self._in_having = False
        order_by: list[tuple[str, bool]] = []  # (var, descending)
        if self.at_word("ORDER"):
            self.i += 1
            if not self.at_word("BY"):
                raise SparqlError("expected BY after ORDER")
            self.i += 1
            while True:
                t = self.peek()
                if t is None:
                    break
                if t[0] == "var":
                    order_by.append((t[1][1:], False))
                    self.i += 1
                elif t[0] == "word" and t[1].upper() in ("ASC", "DESC"):
                    desc = t[1].upper() == "DESC"
                    self.i += 1
                    self.expect("(")
                    v = self.next()
                    if v[0] != "var":
                        raise SparqlError(f"ORDER BY {t[1]}(...) requires a ?variable")
                    self.expect(")")
                    order_by.append((v[1][1:], desc))
                else:
                    break
            if not order_by:
                raise SparqlError("ORDER BY requires at least one sort key")
        limit = offset = None
        # LIMIT and OFFSET accepted in either order (SPARQL allows both);
        # semantics are order-independent: skip OFFSET solutions, then
        # take LIMIT
        while self.at_word("LIMIT") or self.at_word("OFFSET"):
            kw = self.peek()[1].upper()
            self.i += 1
            t = self.peek()
            if t is None or t[0] != "num" or not t[1].isdigit():
                raise SparqlError(f"{kw} requires a non-negative integer")
            self.i += 1
            if kw == "LIMIT":
                if limit is not None:
                    raise SparqlError("duplicate LIMIT")
                limit = int(t[1])
            else:
                if offset is not None:
                    raise SparqlError("duplicate OFFSET")
                offset = int(t[1])
        if top and self.i != len(self.toks):
            raise SparqlError(f"trailing tokens: {[t[1] for t in self.toks[self.i:]]}")
        if not group.elements:
            raise SparqlError("empty graph pattern")
        aggs = [a for a in select_list if isinstance(a, _Agg)]
        plain = [v for v in select_list if isinstance(v, str)]
        if (aggs or group_by or having) and star:
            raise SparqlError("SELECT * cannot be combined with aggregation")
        if group_by and not aggs and not having:
            raise SparqlError(
                "GROUP BY requires an aggregate in the SELECT list or a HAVING"
            )
        if having and not group_by and not aggs:
            raise SparqlError("HAVING requires aggregation")
        if aggs or having:
            # SPARQL 1.1 projection restriction: every non-aggregate
            # result variable must be a GROUP BY variable
            stray = [v for v in plain if v not in group_by]
            if stray:
                raise SparqlError(
                    f"non-aggregate SELECT variables not in GROUP BY: {stray}"
                )
            # alias collisions (with group vars or other aliases) would
            # surface as an opaque runtime AMBIGUOUS_REFERENCE — keep the
            # parse-or-SparqlError contract instead
            seen: set[str] = set(group_by)
            for a in aggs:
                if a.out in seen:
                    raise SparqlError(
                        f"duplicate result variable ?{a.out} in SELECT list"
                    )
                seen.add(a.out)
        return (
            select_list,
            star,
            distinct,
            group,
            limit,
            offset,
            group_by,
            order_by,
            having,
            ask,
        )

    _AGG_FNS = ("COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT")

    def parse_select_agg(self) -> _Agg:
        """``( FN ( [DISTINCT] * | ?v [; SEPARATOR="s"] ) AS ?name )`` —
        the SPARQL 1.1 set functions (ontology statistics queries).
        Only COUNT accepts ``*``; only GROUP_CONCAT accepts SEPARATOR."""
        self.expect("(")
        t = self.next()
        fn = t[1].upper() if t[0] == "word" else ""
        if fn not in self._AGG_FNS:
            raise SparqlError(
                f"unsupported aggregate {t[1]!r} (supported: {', '.join(self._AGG_FNS)})"
            )
        var, distinct, sep = self._agg_body(fn)
        if not self.at_word("AS"):
            raise SparqlError("aggregate needs an (expr AS ?name) alias")
        self.i += 1
        alias = self.next()
        if alias[0] != "var":
            raise SparqlError(f"AS requires a ?variable, got {alias[1]!r}")
        self.expect(")")
        return _Agg(fn, var, distinct, alias[1][1:], sep)

    def _agg_body(self, fn: str) -> tuple[str | None, bool, str]:
        """``( [DISTINCT] * | ?v [; SEPARATOR="s"] )`` after an aggregate
        keyword — shared by SELECT-list aggregates and HAVING operands."""
        self.expect("(")
        distinct = self.at_word("DISTINCT")
        if distinct:
            self.i += 1
        arg = self.next()
        if arg[1] == "*":
            if fn != "COUNT":
                raise SparqlError(f"{fn}(*) is not valid SPARQL (only COUNT(*))")
            if distinct:
                raise SparqlError("COUNT(DISTINCT *) is not supported")
            var = None
        elif arg[0] == "var":
            var = arg[1][1:]
        else:
            raise SparqlError(
                f"{fn} argument must be {'* or ' if fn == 'COUNT' else ''}a "
                f"?variable, got {arg[1]!r}"
            )
        sep = " "
        if self.peek() is not None and self.peek()[1] == ";":
            if fn != "GROUP_CONCAT":
                raise SparqlError(f"';' inside {fn}(...) (SEPARATOR is GROUP_CONCAT-only)")
            self.i += 1
            kw = self.next()
            if kw[0] != "word" or kw[1].upper() != "SEPARATOR":
                raise SparqlError(f"expected SEPARATOR, got {kw[1]!r}")
            self.expect("=")
            s = self.next()
            if s[0] != "string":
                raise SparqlError("SEPARATOR requires a string literal")
            sep = s[1][1:-1].replace('\\"', '"')
        self.expect(")")
        return var, distinct, sep

    def term(self, tok: tuple[str, str, str | None]) -> _Term:
        kind, val, lang = tok
        if kind == "var":
            return _Term("var", val[1:])
        if kind == "iriref":
            return _Term("iri", val[1:-1])
        if kind == "string":
            return _Term("lit", val[1:-1].replace('\\"', '"'), lang)
        if kind == "num":
            return _Term("lit", val)
        if kind == "word":
            if val == "a":
                return _Term("iri", _RDF_TYPE)
            pfx, sep, local = val.partition(":")
            if sep and pfx in self.prefixes:
                return _Term("iri", self.prefixes[pfx] + local)
            raise SparqlError(f"unknown prefix or bare word: {val!r}")
        raise SparqlError(f"unexpected term: {val!r}")

    def parse_predicate(self):
        """Predicate position: a path expression over constant IRIs —
        ``path := seq ('|' seq)*``, ``seq := step ('/' step)*``,
        ``step := ['^'] iri ['*'|'+']`` (SPARQL 1.1 precedence: ``|``
        binds looser than ``/``; ``^`` inverts one step). A bare
        variable predicate stays a plain term (no modifier allowed).
        The tokenizer folds a trailing ``*``/``+`` into prefixed-name
        words (``skos:broader*`` is one word token); after an ``<iri>``
        or ``a`` the modifier arrives as its own token."""
        first = self.parse_path_step(allow_var=True)
        if isinstance(first, _Term) and first.kind == "var":
            nxt = self.peek()
            if nxt is not None and nxt[1] in ("*", "+", "/", "|", "^"):
                raise SparqlError(
                    "property paths require constant predicates "
                    f"(got a variable before {nxt[1]!r})"
                )
            return first
        branches = [self.parse_path_seq(first)]
        while self.peek() is not None and self.peek()[1] == "|":
            self.i += 1
            branches.append(self.parse_path_seq(self.parse_path_step()))
        if len(branches) > 1:
            return _PathAlt(tuple(branches))
        only = branches[0]
        if isinstance(only, _PathStep) and not only.inverse:
            return only.pred  # plain iri term or modifier path, as before
        return only

    def parse_path_seq(self, first):
        steps = [first]
        while self.peek() is not None and self.peek()[1] == "/":
            self.i += 1
            steps.append(self.parse_path_step())
        if len(steps) == 1:
            return steps[0]
        return _PathSeq(tuple(steps))

    def parse_path_expr(self):
        """A full path expression (``seq ('|' seq)*``) — the recursive
        entry for parenthesized groups."""
        branches = [self.parse_path_seq(self.parse_path_step())]
        while self.peek() is not None and self.peek()[1] == "|":
            self.i += 1
            branches.append(self.parse_path_seq(self.parse_path_step()))
        return _PathAlt(tuple(branches)) if len(branches) > 1 else branches[0]

    def _path_modifier(self) -> "str | tuple | None":
        nxt = self.peek()
        if nxt is not None and nxt[0] == "word" and nxt[1] in ("*", "+", "?"):
            self.i += 1
            return nxt[1]
        if nxt is not None and nxt[1] == "{":
            # {n} / {n,} / {n,m} range quantifier — draft-era SPARQL 1.1
            # (dropped from the REC but retained by several engines);
            # returns ("range", lo, hi) with hi=None for the open form.
            save = self.i
            self.i += 1
            tok = self.next()
            if tok[0] != "num" or not tok[1].isdigit():
                # a '{' that doesn't open digits is a graph-pattern brace
                self.i = save
                return None
            lo = int(tok[1])
            hi: int | None = lo
            tok = self.next()
            if tok[1] == ",":
                if self.peek() is not None and self.peek()[0] == "num":
                    t2 = self.next()
                    if not t2[1].isdigit():
                        raise SparqlError(f"malformed path quantifier bound: {t2[1]!r}")
                    hi = int(t2[1])
                else:
                    hi = None
                tok = self.next()
            if tok[1] != "}":
                raise SparqlError("malformed {n,m} path quantifier")
            if hi is not None and hi < lo:
                raise SparqlError(
                    f"path quantifier upper bound below lower: {{{lo},{hi}}}"
                )
            return ("range", lo, hi)
        return None

    def parse_path_step(self, allow_var: bool = False):
        inverse = False
        if self.peek() is not None and self.peek()[1] == "^":
            self.i += 1
            inverse = True
        if self.peek() is not None and self.peek()[1] == "(":
            # '(' Path ')' PathMod? — grouped (possibly quantified) path
            self.i += 1
            inner = self.parse_path_expr()
            self.expect(")")
            return _PathStep(_PathGroup(inner, self._path_modifier()), inverse=inverse)
        if self.peek() is not None and self.peek()[1] == "!":
            self.i += 1
            neg, glued = self.parse_negated_set()
            mod = glued if glued is not None else self._path_modifier()
            if mod is not None:  # !(a|b)* / !skos:broader* — PathElt quantifier
                return _PathStep(_PathGroup(neg, mod), inverse=inverse)
            return _PathStep(neg, inverse=inverse)
        tok = self.next()
        kind, val, _lang = tok
        if kind == "word" and len(val) > 1 and val[-1] in "*+?":
            base = self.term(("word", val[:-1], None))
            if base.kind != "iri":
                raise SparqlError(f"property path on non-IRI predicate: {val!r}")
            pred = _Path(base.value, val[-1])
        else:
            t = self.term(tok)
            if t.kind == "var":
                if inverse:
                    raise SparqlError("property paths require constant predicates")
                if not allow_var:
                    raise SparqlError("variable predicate inside a path expression")
                return t
            if t.kind != "iri":
                raise SparqlError(f"predicate must be an IRI, got {t.kind}")
            mod = self._path_modifier()
            if isinstance(mod, tuple):
                # p{n,m}: bounded repetition lowers through the grouped-path
                # machinery (the single-predicate edge set IS the group edge)
                pred = _PathGroup(t, mod)
            elif mod is not None:
                pred = _Path(t.value, mod)
            else:
                pred = t
        if inverse:
            return _PathStep(pred, inverse=True)
        return _PathStep(pred)

    def parse_negated_set(self) -> "tuple[_PathNeg, str | None]":
        """``!iri`` / ``!^iri`` / ``!(a|b|^c)`` after the ``!`` token.
        Members are constant IRIs (optionally ``^``-inverted). Returns
        (set, glued_modifier): the bare prefixed-name form folds a
        trailing quantifier into its word token (``!skos:broader*``), so
        the modifier is split off here and quantified by the caller; a
        quantifier INSIDE the set (``!(a*|b)``) stays illegal per the
        grammar."""
        fwd: list[str] = []
        inv: list[str] = []
        glued_mod: str | None = None

        def one(allow_glued_mod: bool = False) -> None:
            nonlocal glued_mod
            neg_inv = False
            if self.peek() is not None and self.peek()[1] == "^":
                self.i += 1
                neg_inv = True
            tok = self.next()
            kind, val, _lang = tok
            if kind == "word" and len(val) > 1 and val[-1] in "*+?":
                if not allow_glued_mod:
                    raise SparqlError(
                        f"quantifier inside a negated property set: {val!r}"
                    )
                glued_mod = val[-1]
                tok = ("word", val[:-1], None)
            t = self.term(tok)
            if t.kind != "iri":
                raise SparqlError(
                    f"negated property sets contain constant IRIs only, got {t.kind}"
                )
            (inv if neg_inv else fwd).append(t.value)

        if self.peek() is not None and self.peek()[1] == "(":
            self.i += 1
            one()
            while self.peek() is not None and self.peek()[1] == "|":
                self.i += 1
                one()
            self.expect(")")
        else:
            one(allow_glued_mod=True)
        return _PathNeg(tuple(fwd), tuple(inv)), glued_mod

    def parse_group(self) -> _Group:
        self.expect("{")
        g = _Group()
        patterns: list[tuple[_Term, _Term, _Term]] = []
        subj: _Term | None = None

        def flush_bgp() -> None:
            nonlocal patterns
            if patterns:
                g.elements.append(("bgp", patterns))
                patterns = []

        while True:
            t = self.peek()
            if t is None:
                raise SparqlError("expected '}'")
            if t[1] == "}":
                self.i += 1
                break
            if t[1] == ".":
                subj = None
                self.i += 1
                continue
            if t[1] == ";":
                if subj is None:
                    raise SparqlError("';' without a preceding pattern")
                self.i += 1
                continue
            if t[1].upper() == "OPTIONAL":
                self.i += 1
                flush_bgp()
                subj = None
                g.elements.append(("optional", self.parse_group()))
                continue
            if t[1].upper() == "FILTER":
                self.i += 1
                subj = None
                # FILTER [NOT] EXISTS { ... } — pattern-valued filter,
                # parsed as a group (supported at the top of a FILTER
                # only, not nested inside &&/|| expressions)
                nxt = self.peek()
                if nxt is not None and nxt[0] == "word" and nxt[1].upper() in (
                    "EXISTS",
                    "NOT",
                ):
                    positive = nxt[1].upper() == "EXISTS"
                    save = self.i
                    self.i += 1
                    if not positive:
                        if not self.at_word("EXISTS"):
                            # plain `FILTER NOT ...`? no such grammar —
                            # restore and let the expression parser error
                            self.i = save
                            g.filters.append(self.parse_filter_expr())
                            continue
                        self.i += 1
                    flush_bgp()
                    g.exists.append((positive, self.parse_group()))
                    continue
                g.filters.append(self.parse_filter_expr())
                continue
            if t[1].upper() == "MINUS":
                self.i += 1
                flush_bgp()
                subj = None
                g.elements.append(("minus", self.parse_group()))
                continue
            if t[1].upper() == "BIND":
                self.i += 1
                flush_bgp()
                subj = None
                self.expect("(")
                expr = self.parse_additive()
                if not self.at_word("AS"):
                    raise SparqlError("BIND requires (expr AS ?var)")
                self.i += 1
                v = self.next()
                if v[0] != "var":
                    raise SparqlError(f"BIND AS requires a ?variable, got {v[1]!r}")
                self.expect(")")
                g.elements.append(("bind", expr, v[1][1:]))
                continue
            if t[1].upper() == "VALUES":
                self.i += 1
                flush_bgp()
                subj = None
                g.elements.append(self.parse_values())
                continue
            if t[1] == "{":
                flush_bgp()
                subj = None
                nxt = (
                    self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
                )
                if nxt is not None and nxt[0] == "word" and nxt[1].upper() in (
                    "SELECT",
                    "ASK",
                ):
                    # { SELECT ... } — SPARQL 1.1 subquery: evaluated
                    # bottom-up, its projected variables join into the
                    # enclosing group like any pattern relation. Shares
                    # the outer query's PREFIX table (the 1.1 grammar:
                    # prologue only at the top)
                    self.i += 1  # consume '{'
                    if nxt[1].upper() == "ASK":
                        raise SparqlError("ASK cannot appear as a subquery")
                    sub = self.parse_query_body(top=False)
                    self.expect("}")
                    g.elements.append(("subquery", sub))
                    continue
                branches = [self.parse_group()]
                while self.at_word("UNION"):
                    self.i += 1
                    branches.append(self.parse_group())
                # a plain nested group is just a one-branch union
                g.elements.append(("union", branches))
                continue
            if subj is None:
                subj = self.term(self.next())
            nxt = self.peek()
            if nxt is None or nxt[1] in ("}", ".", ";"):
                raise SparqlError("truncated triple pattern")
            pred = self.parse_predicate()
            obj = self.term(self.next())
            patterns.append((subj, pred, obj))
        flush_bgp()
        return g

    def parse_values(self):
        """``VALUES ?x { <a> "b" }`` / ``VALUES (?x ?y) { (<a> "1")
        (UNDEF "2") }`` — SPARQL 1.1 inline data. UNDEF → NULL binding.
        Values are the term's string form (IRI text / literal lexical
        form), matching how the triples relation stores terms."""
        t = self.peek()
        if t is None:
            raise SparqlError("truncated VALUES")
        if t[0] == "var":
            vars_ = [self.next()[1][1:]]
            single = True
        elif t[1] == "(":
            self.i += 1
            vars_ = []
            while self.peek() is not None and self.peek()[0] == "var":
                vars_.append(self.next()[1][1:])
            self.expect(")")
            if not vars_:
                raise SparqlError("VALUES () requires at least one ?variable")
            single = False
        else:
            raise SparqlError(f"VALUES requires ?var or (?vars), got {t[1]!r}")
        if len(set(vars_)) != len(vars_):
            raise SparqlError("duplicate variable in VALUES")
        self.expect("{")
        rows: list[tuple] = []

        def value_term() -> str | None:
            tok = self.next()
            if tok[0] == "word" and tok[1].upper() == "UNDEF":
                return None
            term = self.term(tok)
            if term.kind == "var":
                raise SparqlError("variables are not allowed in VALUES data")
            return term.value

        while True:
            t = self.peek()
            if t is None:
                raise SparqlError("expected '}' in VALUES")
            if t[1] == "}":
                self.i += 1
                break
            if single:
                rows.append((value_term(),))
            else:
                self.expect("(")
                row = []
                while self.peek() is not None and self.peek()[1] != ")":
                    row.append(value_term())
                self.expect(")")
                if len(row) != len(vars_):
                    raise SparqlError(
                        f"VALUES row arity {len(row)} != {len(vars_)} variables"
                    )
                rows.append(tuple(row))
        return ("values", vars_, rows)

    # -- value expressions for BIND (precedence: atom > * / > + -) ----------
    _ARITH_ADD = ("+", "-")
    _ARITH_MUL = ("*", "/")

    def parse_additive(self):
        left = self.parse_multiplicative()
        while self.peek() is not None and self.peek()[1] in self._ARITH_ADD:
            op = self.next()[1]
            left = ("arith", op, left, self.parse_multiplicative())
        return left

    def parse_multiplicative(self):
        left = self.parse_value_atom()
        while self.peek() is not None and self.peek()[1] in self._ARITH_MUL:
            op = self.next()[1]
            left = ("arith", op, left, self.parse_value_atom())
        return left

    _VALUE_FUNCS = {"CONCAT", "STR", "LANG"}

    def parse_value_atom(self):
        t = self.peek()
        if t is None:
            raise SparqlError("truncated BIND expression")
        if t[1] == "(":
            self.i += 1
            inner = self.parse_additive()
            self.expect(")")
            return inner
        if t[0] == "word" and t[1].upper() in self._VALUE_FUNCS:
            fn = self.next()[1].upper()
            self.expect("(")
            args = [self.parse_additive()]
            while self.peek() is not None and self.peek()[1] == ",":
                self.i += 1
                args.append(self.parse_additive())
            self.expect(")")
            return ("func", fn, args)
        return ("operand", self.parse_operand())

    # -- FILTER expressions (precedence: ! > cmp > && > ||) -----------------
    def parse_filter_expr(self):
        self.expect("(")
        ast = self.parse_or()
        self.expect(")")
        return ast

    def parse_or(self):
        left = self.parse_and()
        while self.peek() is not None and self.peek()[1] == "||":
            self.i += 1
            left = ("or", left, self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_unary()
        while self.peek() is not None and self.peek()[1] == "&&":
            self.i += 1
            left = ("and", left, self.parse_unary())
        return left

    def parse_unary(self):
        t = self.peek()
        if t is not None and t[1] == "!":
            self.i += 1
            return ("not", self.parse_unary())
        return self.parse_primary()

    _FUNCS = {"REGEX", "CONTAINS", "STRSTARTS", "BOUND", "LANG"}

    _CMP_OPS = ("=", "!=", "<", "<=", ">", ">=")

    def parse_primary(self):
        left = self.parse_atom()
        nxt = self.peek()
        if nxt is not None and nxt[1] in self._CMP_OPS:
            op = self.next()[1]
            # RHS is an atom, NOT another comparison: SPARQL's RelationalExpression
            # is non-associative, so FILTER(?a < ?b < ?c) must be rejected
            # instead of silently comparing ?a with a boolean.
            right = self.parse_atom()
            trailing = self.peek()
            if trailing is not None and trailing[1] in self._CMP_OPS:
                raise SparqlError(
                    "chained comparison is not valid SPARQL: "
                    f"unexpected {trailing[1]!r} after comparison"
                )
            return ("cmp", op, left, right)
        return left

    def parse_atom(self):
        t = self.peek()
        if t is None:
            raise SparqlError("truncated FILTER expression")
        if t[1] == "(":
            self.i += 1
            inner = self.parse_or()
            self.expect(")")
            return inner
        if (
            t[0] == "word"
            and t[1].upper() in self._AGG_FNS
            and getattr(self, "_in_having", False)
        ):
            fn = self.next()[1].upper()
            var, distinct, sep = self._agg_body(fn)
            return ("hagg", fn, var, distinct, sep)
        if t[0] == "word" and t[1].upper() in self._FUNCS:
            fn = self.next()[1].upper()
            self.expect("(")
            args = [self.parse_operand()]
            while self.peek() is not None and self.peek()[1] == ",":
                self.i += 1
                args.append(self.parse_operand())
            self.expect(")")
            return ("func", fn, args)
        return ("operand", self.parse_operand())

    def parse_operand(self):
        t = self.next()
        if t[0] == "var":
            return ("var", t[1][1:])
        if t[0] == "string":
            return ("str", t[1][1:-1].replace('\\"', '"'))
        if t[0] == "num":
            return ("num", float(t[1]) if "." in t[1] else int(t[1]))
        if t[0] in ("iriref", "word"):
            # IRI operand (<...> or prefixed name): IRIs are plain
            # strings in the triples relation, so an IRI term compares
            # as its expanded string (SPARQL sameTerm-on-IRI semantics)
            term = self.term(t)
            if term.kind == "iri":
                return ("str", term.value)
        raise SparqlError(f"unexpected FILTER operand: {t[1]!r}")


def _filter_column(ast, columns: set[str]) -> Column:
    """Filter AST → Spark Column (vars must be bound, except under BOUND)."""

    def operand(node, numeric_ctx: bool = False) -> Column:
        kind = node[0]
        if kind == "var":
            if node[1] not in columns:
                raise SparqlError(f"FILTER variable not bound in pattern: ?{node[1]}")
            c = F.col(node[1])
            return F.expr(f"try_cast({node[1]} AS DOUBLE)") if numeric_ctx else c
        if kind == "str":
            return F.lit(node[1])
        if kind == "num":
            return F.lit(node[1])
        raise SparqlError(f"bad operand node: {node!r}")

    def build(node) -> Column:
        tag = node[0]
        if tag == "or":
            return build(node[1]) | build(node[2])
        if tag == "and":
            return build(node[1]) & build(node[2])
        if tag == "not":
            return ~build(node[1])
        if tag == "cmp":
            _t, op, lnode, rnode = node
            # numeric context when either side is a numeric literal
            numeric = (lnode[0] == "operand" and lnode[1][0] == "num") or (
                rnode[0] == "operand" and rnode[1][0] == "num"
            )
            lc = build_val(lnode, numeric)
            rc = build_val(rnode, numeric)
            return {
                "=": lc == rc,
                "!=": lc != rc,
                "<": lc < rc,
                "<=": lc <= rc,
                ">": lc > rc,
                ">=": lc >= rc,
            }[op]
        if tag == "func":
            _t, fn, args = node
            if fn == "LANG":
                raise SparqlError(
                    "LANG(...) is a value, not a boolean FILTER — compare it"
                    ' (e.g. LANG(?v) = "en")'
                )
            if fn == "BOUND":
                if args[0][0] != "var":
                    raise SparqlError("BOUND requires a variable")
                # SPARQL semantics: BOUND of a variable the pattern never
                # binds is FALSE, not an error (and must not leak a Spark
                # unresolved-column AnalysisException past SparqlError)
                if args[0][1] not in columns:
                    return F.lit(False)
                return F.col(args[0][1]).isNotNull()
            if len(args) != 2:
                raise SparqlError(f"{fn} requires 2 arguments")
            target = operand(args[0])
            pat = args[1]
            if pat[0] != "str":
                raise SparqlError(f"{fn} pattern must be a string literal")
            if fn == "REGEX":
                return target.rlike(pat[1])
            if fn == "CONTAINS":
                return target.contains(pat[1])
            if fn == "STRSTARTS":
                return target.startswith(pat[1])
        if tag == "operand":
            raise SparqlError("bare operand is not a boolean FILTER expression")
        raise SparqlError(f"bad FILTER node: {node!r}")

    def build_val(node, numeric: bool) -> Column:
        if node[0] == "operand":
            return operand(node[1], numeric_ctx=numeric)
        if node[0] == "func" and node[1] == "LANG":
            args = node[2]
            if len(args) != 1 or args[0][0] != "var":
                raise SparqlError("LANG requires exactly one variable")
            v = args[0][1]
            if v not in columns:
                raise SparqlError(f"FILTER variable not bound in pattern: ?{v}")
            # SPARQL LANG: the literal's tag, '' for plain literals; our
            # approximation also yields '' for IRIs and path-bound values
            # (their bindings carry no tag)
            if f"__lang_{v}" not in columns:
                return F.lit("")
            return F.coalesce(F.col(f"__lang_{v}"), F.lit(""))
        return build(node)

    return build(ast)


def _value_column(ast, columns: set[str]) -> Column:
    """BIND expression AST → Spark Column. Arithmetic coerces both sides
    with try_cast(DOUBLE) (SPARQL numeric ops on non-numeric bindings
    error the row out → here NULL, the same skip-the-solution effect);
    CONCAT takes the string forms; STR is the identity on our string
    bindings; LANG reads the ``__lang_`` companion ('' when absent)."""

    def build(node) -> Column:
        tag = node[0]
        if tag == "operand":
            kind, val = node[1]
            if kind == "var":
                if val not in columns:
                    raise SparqlError(f"BIND variable not bound in pattern: ?{val}")
                return F.col(val)
            return F.lit(val)
        if tag == "arith":
            _t, op, lnode, rnode = node
            lc = build(lnode).try_cast("double")
            rc = build(rnode).try_cast("double")
            if op == "+":
                return lc + rc
            if op == "-":
                return lc - rc
            if op == "*":
                return lc * rc
            return lc / rc
        if tag == "func":
            _t, fn, args = node
            if fn == "CONCAT":
                return F.concat(*[build(a).cast("string") for a in args])
            if len(args) != 1:
                raise SparqlError(f"{fn} requires exactly one argument")
            if fn == "STR":
                return build(args[0]).cast("string")
            # LANG(?v): companion column, '' for untagged/IRI bindings
            if args[0][0] != "operand" or args[0][1][0] != "var":
                raise SparqlError("LANG requires a variable")
            v = args[0][1][1]
            if v not in columns:
                raise SparqlError(f"BIND variable not bound in pattern: ?{v}")
            if f"__lang_{v}" not in columns:
                return F.lit("")
            return F.coalesce(F.col(f"__lang_{v}"), F.lit(""))
        raise SparqlError(f"bad BIND node: {node!r}")

    return build(ast)


def _eval_group(triples: DataFrame, group: _Group) -> DataFrame:
    """Evaluate one group graph pattern to a DataFrame of variable columns."""

    def bind_endpoints(
        df: DataFrame, slots: list[tuple[str, _Term]], lang_applicable: bool
    ) -> DataFrame:
        """Shared endpoint binding for triple patterns AND property paths:
        variables project-and-rename, a repeated variable becomes an
        equality filter, constants filter in place. ``lang_applicable``:
        triple patterns filter lang-tagged literal constants on the
        relation's ``lang`` column (a missing column fails LOUD, as a
        malformed triples input should); a property path's closure pair
        relation has no lang notion, so path endpoints keep the original
        value-only match."""
        rename: dict[str, str] = {}
        lang_var: str | None = None
        for pos, t in slots:
            if t.kind == "var":
                if t.value in rename.values():
                    prev = next(c for c, v in rename.items() if v == t.value)
                    df = df.filter(F.col(pos) == F.col(prev))
                else:
                    rename[pos] = t.value
                    if pos == "o" and lang_applicable:
                        # companion column carrying the literal's language
                        # tag for FILTER LANG(?v); never a join key
                        lang_var = t.value
            else:
                df = df.filter(F.col(pos) == t.value)
                if t.kind == "lit" and t.lang is not None and lang_applicable:
                    df = df.filter(F.col("lang") == t.lang)
        cols = [F.col(c).alias(v) for c, v in rename.items()]
        if lang_var is not None:
            cols.append(F.col("lang").alias(f"__lang_{lang_var}"))
        return df.select(*cols)

    def pattern_df(s: _Term, p: _Term, o: _Term) -> DataFrame:
        return bind_endpoints(
            triples, [("s", s), ("p", p), ("o", o)], lang_applicable=True
        )

    def path_df(s: _Term, path: _Path, o: _Term) -> DataFrame:
        """``s pred*/pred+ o`` → a two-column relation of endpoint pairs.

        The predicate's edge subset (one pushed filter on ``p``) is closed
        by transitive_closure — iterated doubling, O(log diameter) joins,
        checkpointed lineage, so a 20-deep ontology costs ~5 rounds and a
        chain can't blow the plan up (operators/graph.py). ``*`` unions
        the zero-length matches per SPARQL ZeroLengthPath: a constant end
        matches itself; var-var pairs every graph term with itself.
        Reference surface: sparql_query.py ancestor walks
        (rdfs:subClassOf* / skos:broader+ via Oxigraph)."""
        from science_datalake_spark.operators.graph import transitive_closure

        spark = triples.sparkSession
        edges = triples.filter(F.col("p") == path.iri).select(
            F.col("s").alias("src"), F.col("o").alias("dst")
        )
        if path.mod == "?":
            # zero-or-one: the single-hop edge relation, no closure at all
            # (the zero-length union below is shared with ``*``)
            if o.kind == "lit" and o.lang is not None:
                pairs = triples.filter(
                    (F.col("p") == path.iri)
                    & (F.col("o") == o.value)
                    & (F.col("lang") == o.lang)
                ).select(F.col("s").alias("a"), F.col("o").alias("d"))
            else:
                pairs = edges.select(
                    F.col("src").alias("a"), F.col("dst").alias("d")
                )
        elif o.kind == "lit" and o.lang is not None:
            # a lang-tagged literal endpoint constrains the FINAL hop's
            # triple (pattern_df enforces the same for 1-hop patterns):
            # compose closure ∘ lang-matched-last-edge instead of closing
            # over the value alone, which would admit same-value triples
            # in other languages
            final = (
                triples.filter(
                    (F.col("p") == path.iri)
                    & (F.col("o") == o.value)
                    & (F.col("lang") == o.lang)
                )
                .select(F.col("s").alias("m"))
                .distinct()
            )
            direct = final.select(F.col("m").alias("a"), F.lit(o.value).alias("d"))
            closed = transitive_closure(edges)
            via = (
                closed.join(final, closed["d"] == final["m"])
                .select(F.col("a"), F.lit(o.value).alias("d"))
            )
            pairs = direct.unionByName(via).distinct()
        else:
            pairs = transitive_closure(edges)  # (a, d): 1..n hops
        if path.mod in ("*", "?"):
            if s.kind == "var" and o.kind == "var":
                nodes = (
                    triples.select(F.col("s").alias("a"))
                    .unionByName(triples.select(F.col("o").alias("a")))
                    .distinct()
                )
                zero = nodes.select("a", F.col("a").alias("d"))
            else:
                # a constant end matches itself (the o-constant filter
                # below rejects the row again unless both ends agree)
                const = s.value if s.kind != "var" else o.value
                zero = local_df(spark, [(const, const)], "a STRING, d STRING")
            pairs = pairs.unionByName(zero).distinct()
        return bind_endpoints(pairs, [("a", s), ("d", o)], lang_applicable=False)

    def neg_df(s: _Term, neg: _PathNeg, o: _Term) -> DataFrame:
        """Negated property set: anti-filter on the predicate column —
        ONE pushed NOT-IN scan per direction component, no joins. The
        forward component keeps (s, o) orientation; the ``^``-items
        component swaps endpoints (triple runs o→s). Components union
        per the spec's alt() split (bag semantics, like alt_df)."""
        parts: list[DataFrame] = []
        if neg.forward:
            parts.append(
                bind_endpoints(
                    triples.filter(~F.col("p").isin(list(neg.forward))),
                    [("s", s), ("o", o)],
                    lang_applicable=True,
                )
            )
        if neg.inverse:
            parts.append(
                bind_endpoints(
                    triples.filter(~F.col("p").isin(list(neg.inverse))),
                    [("s", o), ("o", s)],
                    lang_applicable=True,
                )
            )
        u = parts[0]
        for b in parts[1:]:
            u = u.unionByName(b, allowMissingColumns=True)
        return u

    def path_pairs(node) -> DataFrame:
        """Endpoint-pair relation (a, d) of an ARBITRARY path AST,
        evaluated with fresh free-variable endpoints — the edge set a
        grouped quantifier closes over."""
        uid = next(_PATH_IDS)
        av, dv = _Term("var", f"__pg{uid}a"), _Term("var", f"__pg{uid}d")
        if isinstance(node, _PathSeq):
            rel = seq_df(av, node, dv)
        elif isinstance(node, _PathAlt):
            rel = alt_df(av, node, dv)
        elif isinstance(node, _PathStep):
            rel = step_df(av, node, dv)
        elif isinstance(node, _PathNeg):
            rel = neg_df(av, node, dv)
        elif isinstance(node, _PathGroup):
            rel = group_df(av, node, dv)
        elif isinstance(node, _Path):
            rel = path_df(av, node, dv)
        else:  # plain iri _Term
            rel = pattern_df(av, node, dv)
        return rel.select(F.col(av.value).alias("a"), F.col(dv.value).alias("d"))

    def group_df(s: _Term, grp: _PathGroup, o: _Term) -> DataFrame:
        """``( path )`` with an optional quantifier, incl. quantified
        negated sets: the inner path lowers to its endpoint-pair edge
        relation once, then '+' closes it transitively (the same
        O(log diameter) doubling loop as single-predicate closures),
        '*'/'?' union the SPARQL ZeroLengthPath matches, and no modifier
        is pure grouping. Closure endpoints match by value — lang tags on
        literal endpoints are not re-checked across a closed group (the
        same value-only rule as every closure here, bind_endpoints
        lang_applicable=False)."""
        from science_datalake_spark.operators.graph import transitive_closure

        spark = triples.sparkSession
        edges = path_pairs(grp.inner)

        def compose(l: DataFrame, r: DataFrame) -> DataFrame:
            """Path concatenation: join through the shared midpoint."""
            return (
                l.alias("l")
                .join(r.alias("r"), F.col("l.d") == F.col("r.a"))
                .select(F.col("l.a").alias("a"), F.col("r.d").alias("d"))
                .distinct()
            )

        if grp.mod == "+":
            pairs = transitive_closure(edges, src="a", dst="d")
        elif grp.mod == "*":
            pairs = transitive_closure(edges, src="a", dst="d")
        elif isinstance(grp.mod, tuple):
            # ("range", lo, hi): paths of length lo..hi (hi=None → lo..∞),
            # set semantics like every quantifier here. Bounded form is an
            # explicit union of edge powers (hi is small by construction —
            # it is a literal in the query text); the open form composes
            # the lo-hop floor with the 1..∞ closure. Zero-length (lo=0)
            # joins the shared '*'-style union below.
            _, lo, hi = grp.mod
            if hi is None:
                clo = transitive_closure(edges, src="a", dst="d")
                if lo <= 1:
                    pairs = clo
                else:
                    base = edges
                    for _ in range(lo - 1):
                        base = compose(base, edges)
                    pairs = base.unionByName(compose(base, clo)).distinct()
            elif hi == 0:
                pairs = edges.limit(0)  # zero-length only ({0}/{0,0})
            else:
                powers: list[DataFrame] = []
                cur = edges
                for k in range(1, hi + 1):
                    if k >= max(lo, 1):
                        powers.append(cur)
                    if k < hi:
                        cur = compose(cur, edges)
                pairs = powers[0]
                for p in powers[1:]:
                    pairs = pairs.unionByName(p)
                pairs = pairs.distinct()
        else:  # '?' or plain grouping
            pairs = edges
        zero_matches = grp.mod in ("*", "?") or (
            isinstance(grp.mod, tuple) and grp.mod[1] == 0
        )
        if zero_matches:
            if s.kind == "var" and o.kind == "var":
                nodes = (
                    triples.select(F.col("s").alias("a"))
                    .unionByName(triples.select(F.col("o").alias("a")))
                    .distinct()
                )
                zero = nodes.select("a", F.col("a").alias("d"))
            else:
                const = s.value if s.kind != "var" else o.value
                zero = local_df(spark, [(const, const)], "a STRING, d STRING")
            pairs = pairs.unionByName(zero).distinct()
        return bind_endpoints(pairs, [("a", s), ("d", o)], lang_applicable=False)

    def step_df(s: _Term, step: _PathStep, o: _Term) -> DataFrame:
        """One composite-path step; ``^`` swaps the endpoints."""
        a, b = (o, s) if step.inverse else (s, o)
        if isinstance(step.pred, _Path):
            return path_df(a, step.pred, b)
        if isinstance(step.pred, _PathNeg):
            return neg_df(a, step.pred, b)
        if isinstance(step.pred, _PathGroup):
            return group_df(a, step.pred, b)
        return pattern_df(a, step.pred, b)

    def seq_df(s: _Term, seq: _PathSeq, o: _Term) -> DataFrame:
        """``p1/p2/...``: chain the steps through fresh internal
        variables (dropped from the result), joining hop relations on
        them — the BGP-join machinery does the work, so each hop keeps
        its pushed predicate filter."""
        uid = next(_PATH_IDS)
        cur: DataFrame | None = None
        left = s
        last = len(seq.steps) - 1
        for i, step in enumerate(seq.steps):
            right = o if i == last else _Term("var", f"__pseq{uid}_{i}")
            hop = step_df(left, step, right)
            cur = hop if cur is None else merge(cur, hop)
            left = right
        internal = [c for c in cur.columns if f"__pseq{uid}_" in c]
        return cur.drop(*internal)

    def alt_df(s: _Term, alt: _PathAlt, o: _Term) -> DataFrame:
        """``a|b``: bag union of the branch matches (SPARQL path
        alternative semantics — no dedup across branches)."""
        dfs = [
            seq_df(s, b, o) if isinstance(b, _PathSeq) else step_df(s, b, o)
            for b in alt.branches
        ]
        u = dfs[0]
        for b in dfs[1:]:
            u = u.unionByName(b, allowMissingColumns=True)
        return u

    def merge(out: DataFrame | None, pdf: DataFrame, how: str = "inner") -> DataFrame:
        if out is None:
            return pdf
        # __lang_ companions are metadata, never join keys (NULL lang on
        # IRI objects would null-drop every BGP join otherwise); on a
        # collision the FIRST binding's tag wins
        dup_lang = [
            c for c in pdf.columns if c.startswith("__lang_") and c in out.columns
        ]
        if dup_lang:
            pdf = pdf.drop(*dup_lang)
        shared = [
            c
            for c in out.columns
            if c in pdf.columns and not c.startswith("__lang_")
        ]
        if how == "left":
            return out.join(pdf, on=shared, how="left") if shared else out.join(
                pdf, F.lit(True), "left"
            )
        return out.join(pdf, on=shared) if shared else out.crossJoin(pdf)

    out: DataFrame | None = None
    for elem in group.elements:
        tag = elem[0]
        if tag == "bgp":
            for s, p, o in elem[1]:
                if isinstance(p, _PathSeq):
                    out = merge(out, seq_df(s, p, o))
                elif isinstance(p, _PathAlt):
                    out = merge(out, alt_df(s, p, o))
                elif isinstance(p, _PathStep):
                    out = merge(out, step_df(s, p, o))
                elif isinstance(p, _Path):
                    out = merge(out, path_df(s, p, o))
                elif isinstance(p, _PathNeg):
                    out = merge(out, neg_df(s, p, o))
                elif isinstance(p, _PathGroup):
                    out = merge(out, group_df(s, p, o))
                else:
                    out = merge(out, pattern_df(s, p, o))
        elif tag == "optional":
            out = merge(out, _eval_group(triples, elem[1]), how="left")
        elif tag == "bind":
            _t, expr_ast, name = elem
            if out is None:
                # BIND on the empty solution (SPARQL: one solution, no
                # bindings) — a 1-row seed relation
                out = triples.sparkSession.range(1).select(
                    _value_column(expr_ast, set()).alias(name)
                )
            else:
                if name in out.columns:
                    raise SparqlError(f"BIND target ?{name} is already bound")
                out = out.withColumn(name, _value_column(expr_ast, set(out.columns)))
        elif tag == "values":
            _t, vars_, rows = elem
            vdf = local_df(
                triples.sparkSession,
                rows,
                ", ".join(f"{v} STRING" for v in vars_),
            )
            # inline data joins like any pattern (NULL/UNDEF bindings do
            # not join with later patterns — the module-head caveat)
            out = merge(out, vdf)
        elif tag == "union":
            branches = [_eval_group(triples, b) for b in elem[1]]
            u = branches[0]
            for b in branches[1:]:
                u = u.unionByName(b, allowMissingColumns=True)
            out = merge(out, u)
        elif tag == "subquery":
            # bottom-up: the subquery's projection is a relation of its
            # result variables; joins on whatever it shares with the
            # enclosing group (SPARQL 1.1 §12). Internal __lang_
            # companions were already projected away by its SELECT.
            out = merge(out, _eval_query(triples, elem[1]))
        elif tag == "minus":
            # SPARQL MINUS: drop solutions compatible with some inner
            # solution on a NON-EMPTY shared domain — with NO shared
            # variables MINUS removes nothing (the spec's
            # disjoint-domain rule, and the observable difference from
            # FILTER NOT EXISTS). Lowering: left-anti join on the
            # shared variables. Simplification vs the spec: a NULL
            # (OPTIONAL-unbound) shared binding never matches, i.e.
            # compatibility is bound-equality — the anti-join relation
            # Catalyst already knows how to execute and the common-case
            # reading.
            if out is None:
                raise SparqlError("MINUS requires preceding patterns")
            inner = _eval_group(triples, elem[1])
            shared = [
                c
                for c in out.columns
                if c in inner.columns and not c.startswith("__lang_")
            ]
            if shared:
                out = out.join(
                    inner.select(*shared), on=shared, how="left_anti"
                )
        else:  # pragma: no cover - parser invariant
            raise SparqlError(f"unknown group element: {tag}")
    if out is None:
        raise SparqlError("group has no patterns")
    cols = set(out.columns)
    for f_ast in group.filters:
        out = out.filter(_filter_column(f_ast, cols))
    for positive, inner_group in group.exists:
        # FILTER [NOT] EXISTS: semi/anti join on the shared variables.
        # With NO shared variables the filter degenerates to "does the
        # inner pattern match at all" — a constant-key semi/anti join
        # against a LIMIT-1 probe (JVM-side, no driver action).
        inner = _eval_group(triples, inner_group)
        shared = [
            c
            for c in out.columns
            if c in inner.columns and not c.startswith("__lang_")
        ]
        how = "left_semi" if positive else "left_anti"
        if shared:
            out = out.join(inner.select(*shared), on=shared, how=how)
        else:
            probe = inner.limit(1).select(F.lit(1).alias("__e"))
            out = (
                out.withColumn("__e", F.lit(1))
                .join(probe, on="__e", how=how)
                .drop("__e")
            )
    return out


def _agg_expr(a: _Agg) -> Column:
    """SPARQL set function → Spark aggregate expression.

    - COUNT: bound solutions (SQL null-skip == SPARQL error-skip).
    - SUM/AVG: numeric — try_cast(DOUBLE) so non-numeric bindings are
      skipped like SPARQL's error-dropping; result is a DOUBLE column.
    - MIN/MAX: LEXICAL comparison of the string bindings (our terms are
      untyped strings; xsd-typed numeric ordering is out of scope — cast
      in a BIND or use the DataFrame API for numeric extremes).
    - SAMPLE: SPARQL allows any value; we pick min() so results are
      deterministic (test- and oracle-stable).
    - GROUP_CONCAT: values sorted before joining — SPARQL leaves the
      order undefined, a deterministic one keeps results reproducible
      across partitionings.
    """
    if a.var is None:
        return F.count(F.lit(1)).alias(a.out)
    c = F.col(a.var)
    if a.fn == "COUNT":
        return (F.count_distinct(c) if a.distinct else F.count(c)).alias(a.out)
    if a.fn in ("SUM", "AVG"):
        n = c.try_cast("double")
        if a.distinct:
            return _avg_distinct(n, a.out) if a.fn == "AVG" else F.sum_distinct(n).alias(a.out)
        return (F.sum(n) if a.fn == "SUM" else F.avg(n)).alias(a.out)
    if a.fn == "MIN":
        return F.min(c).alias(a.out)
    if a.fn == "MAX":
        return F.max(c).alias(a.out)
    if a.fn == "SAMPLE":
        return F.min(c).alias(a.out)
    if a.fn == "GROUP_CONCAT":
        coll = F.collect_set(c) if a.distinct else F.collect_list(c)
        return F.array_join(F.sort_array(coll), a.sep).alias(a.out)
    raise SparqlError(f"unsupported aggregate {a.fn}")  # pragma: no cover


def _rewrite_having(node, acc: "list[_Agg]"):
    """Replace ``("hagg", fn, var, distinct, sep)`` operands in a HAVING
    AST with variable references to internal ``__h{i}`` aggregate
    columns, collecting the corresponding ``_Agg`` specs into ``acc``."""
    if isinstance(node, tuple):
        if node[0] == "hagg":
            name = f"__h{len(acc)}"
            acc.append(_Agg(node[1], node[2], node[3], name, node[4]))
            return ("operand", ("var", name))
        return (node[0], *(_rewrite_having(c, acc) for c in node[1:]))
    if isinstance(node, list):
        return [_rewrite_having(c, acc) for c in node]
    return node


def _avg_distinct(n: Column, out: str) -> Column:
    """AVG(DISTINCT ?v): Spark has no avg_distinct — sum_distinct over
    count_distinct of the numeric cast."""
    return (F.sum_distinct(n) / F.count_distinct(n)).alias(out)


def sparql_select(triples: DataFrame, query: str) -> DataFrame:
    """Run a SPARQL SELECT (BGP + OPTIONAL/UNION/FILTER subset, plus
    COUNT aggregates with GROUP BY) against the triples relation.
    Aggregation delegates to a DataFrame groupBy — one partial-combinable
    hash aggregate keyed on the GROUP BY variables."""
    return _eval_query(triples, _Parser(query).parse())


def _eval_query(triples: DataFrame, parsed) -> DataFrame:
    """Evaluate one parsed SELECT/ASK body — the shared engine for the
    top-level query and ``{ SELECT ... }`` subqueries."""
    (
        select_list,
        star,
        distinct,
        group,
        limit,
        offset,
        group_by,
        order_by,
        having,
        ask,
    ) = parsed
    out = _eval_group(triples, group)
    if ask:
        # boolean existence: ANY solution -> true. limit(1) makes the
        # existence probe stop at the first match instead of evaluating
        # the full pattern
        return out.limit(1).select(F.lit(True).alias("ask")).groupBy().agg(
            F.coalesce(F.max("ask"), F.lit(False)).alias("ask")
        )
    aggs = [a for a in select_list if isinstance(a, _Agg)]
    if aggs or having:
        # HAVING aggregates compute as internal __h columns in the same
        # hash aggregate, filter post-agg, and drop at projection
        h_aggs: list[_Agg] = []
        h_asts = [_rewrite_having(h, h_aggs) for h in having]
        needed = set(group_by) | {
            a.var for a in [*aggs, *h_aggs] if a.var is not None
        }
        missing = sorted(v for v in needed if v not in out.columns)
        if missing:
            raise SparqlError(f"variables not bound in pattern: {missing}")
        exprs = [_agg_expr(a) for a in [*aggs, *h_aggs]]
        grouped = out.groupBy(*group_by) if group_by else out.groupBy()
        out = grouped.agg(*exprs)
        cols = set(out.columns)
        for h in h_asts:
            out = out.filter(_filter_column(h, cols))
        # project in SELECT-list order (group keys may interleave with
        # the aggregate aliases; __h HAVING columns drop here)
        out = out.select(*[v if isinstance(v, str) else v.out for v in select_list])
    elif not star:
        missing = [v for v in select_list if v not in out.columns]
        if missing:
            raise SparqlError(f"SELECT variables not bound in pattern: {missing}")
        out = out.select(*select_list)
    else:
        # SELECT *: the __lang_ filter companions are internal metadata,
        # never result variables (and must not perturb DISTINCT)
        out = out.drop(*[c for c in out.columns if c.startswith("__lang_")])
    if distinct:
        out = out.distinct()
    if order_by:
        missing = [v for v, _ in order_by if v not in out.columns]
        if missing:
            raise SparqlError(f"ORDER BY variables not in result: {missing}")
        out = out.orderBy(
            *[F.desc(v) if desc else F.asc(v) for v, desc in order_by]
        )
        # ORDER BY + LIMIT lowers to TakeOrderedAndProject — a top-k per
        # partition + driver merge, never a global sort of the result
    if offset is not None:
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out


def sparql_ask(triples: DataFrame, query: str) -> bool:
    """Run an ASK query and return the Python boolean (one driver
    action over the LIMIT-1 existence plan). The query FORM is checked
    by the parser, not by sniffing result-column names — a SELECT that
    happens to project ``?ask`` must be rejected, not coerced (review
    finding)."""
    if not _Parser(query).parse()[-1]:
        raise SparqlError("sparql_ask requires an ASK query")
    # an ASK frame is a global aggregate: exactly one row, always
    return bool(sparql_select(triples, query).first()["ask"])


#: The reference CLI prepends these well-known prefixes to any query
#: that declares none (sparql_query.py:32-56) — same convenience here.
COMMON_PREFIXES = """\
PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
PREFIX owl: <http://www.w3.org/2002/07/owl#>
PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
PREFIX obo: <http://purl.obolibrary.org/obo/>
"""


def with_common_prefixes(query: str) -> str:
    """Prepend the well-known prefix block when the query declares no
    PREFIX of its own. The check matches a PREFIX *declaration* (line
    start + keyword), not a bare substring — an IRI like
    ``<http://ex.org/prefixedTerm>`` must not suppress the convenience
    block and break the query's prefixed names (review finding; the
    reference's substring check has that bug)."""
    if re.search(r"(?im)^\s*prefix\s", query):
        return query
    return COMMON_PREFIXES + query


def write_triple_store(triples: DataFrame, path: str) -> None:
    """Persist a triples relation as the queryable RDF store layout (the
    S17 write side): Hive-partitioned BY PREDICATE — the classic
    vertical-partitioning RDF layout (Abadi et al., SW-Store) as plain
    partitioned Parquet. A constant-predicate triple pattern (every
    pattern the reference's ontology queries use, sparql_query.py:89-143)
    then reads ONLY its predicate's directory: the pattern's ``p ==
    <iri>`` filter is a partition filter, not a scan filter.

    The reference stores ontologies in Oxigraph for this; here the store
    IS the lake — no extra service, same pruning, and the content stays
    joinable with every other table.
    """
    from science_datalake_spark.sources.sinks import write_parquet_partitioned

    write_parquet_partitioned(triples, path, ["p"], cluster_cols=("s",))


def read_triple_store(spark: SparkSession, path: str) -> DataFrame:
    """Load a write_triple_store layout back as the (s, p, o, lang)
    relation sparql_select consumes. The partition column comes back as
    ``p`` (string); constant-predicate patterns prune to directories.
    A plain (s, p, o) triples parquet — no lang-tagged literals — is
    padded with a NULL lang column instead of rejected (the CLI accepted
    such files before the store layout existed; review finding)."""
    df = spark.read.parquet(path)
    if "lang" not in df.columns:
        df = df.withColumn("lang", F.lit(None).cast("string"))
    # partition values decode as strings already; normalize column order
    return df.select("s", "p", "o", "lang")
