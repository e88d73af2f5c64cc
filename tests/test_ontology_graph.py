"""Ontology converters (OBO / N-Triples), graph traversal, alignment
pipeline + evaluation harness — the full linkage slice end-to-end."""

from __future__ import annotations

import pyspark.sql.functions as F

from science_datalake_spark.evaluation import evaluate_alignment
from science_datalake_spark.operators.graph import (
    cooccurrence,
    k_hop,
    transitive_closure,
)
from science_datalake_spark.operators.linkage import fuzzy_label_join
from science_datalake_spark.sources.ontology import (
    ntriples_to_tables,
    obo_to_tables,
    parse_rdf_xml,
    parse_turtle,
    skos_to_tables,
)

OBO_SAMPLE = """format-version: 1.2
ontology: toy

[Term]
id: TOY:0001
name: machine learning
def: "Learning from data" [ref:1]
synonym: "ML" EXACT []
namespace: cs
xref: UMLS:C0376284
xref: MESH:D000069550

[Term]
id: TOY:0002
name: deep learning
is_a: TOY:0001 ! machine learning
xref: UMLS:C4264611

[Term]
id: TOY:0003
name: convolutional networks
is_a: TOY:0002
relationship: part_of TOY:0001

[Term]
id: TOY:0004
name: obsolete thing
is_obsolete: true

[Typedef]
id: part_of
name: part of
"""

NT_SAMPLE = """
<http://ex.org/t1> <http://www.w3.org/2004/02/skos/core#prefLabel> "machine learning"@en .
<http://ex.org/t1> <http://www.w3.org/2004/02/skos/core#prefLabel> "apprentissage"@fr .
<http://ex.org/t1> <http://www.w3.org/2004/02/skos/core#altLabel> "ML"@en .
<http://ex.org/t2> <http://www.w3.org/2004/02/skos/core#prefLabel> "deep learning"@en .
<http://ex.org/t2> <http://www.w3.org/2004/02/skos/core#broader> <http://ex.org/t1> .
<http://ex.org/t2> <http://www.w3.org/2004/02/skos/core#exactMatch> <http://umls.org/C4264611> .
# comment line
malformed line that should be skipped
"""


def test_obo_parser_tables(spark):
    t = obo_to_tables(spark, OBO_SAMPLE)
    terms = {r["id"]: r for r in t.terms.collect()}
    assert set(terms) == {"TOY:0001", "TOY:0002", "TOY:0003", "TOY:0004"}
    assert terms["TOY:0001"]["label"] == "machine learning"
    assert terms["TOY:0001"]["synonyms"] == ["ML"]
    assert terms["TOY:0001"]["definition"] == "Learning from data"
    assert terms["TOY:0004"]["obsolete"] is True
    hier = {(r["parent_id"], r["child_id"], r["relation"]) for r in t.hierarchy.collect()}
    assert ("TOY:0001", "TOY:0002", "is_a") in hier
    assert ("TOY:0001", "TOY:0003", "part_of") in hier
    xr = {(r["term_id"], r["xref_db"], r["xref_id"]) for r in t.xrefs.collect()}
    assert ("TOY:0001", "UMLS", "C0376284") in xr


def test_ntriples_parser_tables(spark):
    t = ntriples_to_tables(spark, NT_SAMPLE)
    terms = {r["id"]: r for r in t.terms.collect()}
    assert terms["http://ex.org/t1"]["label"] == "machine learning"  # @en wins
    assert terms["http://ex.org/t1"]["synonyms"] == ["ML"]
    hier = t.hierarchy.collect()
    assert [(r["parent_id"], r["child_id"]) for r in hier] == [
        ("http://ex.org/t1", "http://ex.org/t2")
    ]
    assert t.xrefs.count() == 1


TTL_SAMPLE = """
@prefix skos: <http://www.w3.org/2004/02/skos/core#> .
@prefix ex: <http://ex.org/> .

# comment line
ex:t1 a skos:Concept ;
    skos:prefLabel "apprentissage"@fr , "machine learning"@en ;
    skos:altLabel "ML"@en ;
    skos:definition "Learning from data"@en .

ex:t2 a skos:Concept ;
    skos:prefLabel "deep learning"@en ;
    skos:broader ex:t1 ;
    skos:narrower ex:t3 ;
    skos:exactMatch <http://umls.org/C4264611> ;
    skos:related [ skos:prefLabel "anon"@en ] .

ex:t3 skos:prefLabel "convnets"@en .
"""

RDFXML_SAMPLE = """<?xml version="1.0" encoding="UTF-8"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:skos="http://www.w3.org/2004/02/skos/core#">
  <skos:Concept rdf:about="http://ex.org/t1">
    <skos:prefLabel xml:lang="fr">apprentissage</skos:prefLabel>
    <skos:prefLabel xml:lang="en">machine learning</skos:prefLabel>
    <skos:altLabel xml:lang="en">ML</skos:altLabel>
  </skos:Concept>
  <rdf:Description rdf:about="http://ex.org/t2">
    <rdf:type rdf:resource="http://www.w3.org/2004/02/skos/core#Concept"/>
    <skos:prefLabel xml:lang="en">deep learning</skos:prefLabel>
    <skos:broader rdf:resource="http://ex.org/t1"/>
    <skos:exactMatch rdf:resource="http://umls.org/C4264611"/>
    <skos:narrower>
      <skos:Concept rdf:about="http://ex.org/t3">
        <skos:prefLabel xml:lang="en">convnets</skos:prefLabel>
      </skos:Concept>
    </skos:narrower>
  </rdf:Description>
</rdf:RDF>
"""


def _assert_skos_tables(t):
    """Shared assertions: all three serializations must walk identically."""
    terms = {r["id"]: r for r in t.terms.collect()}
    assert terms["http://ex.org/t1"]["label"] == "machine learning"  # @en beats @fr
    assert terms["http://ex.org/t1"]["synonyms"] == ["ML"]
    hier = {(r["parent_id"], r["child_id"], r["relation"]) for r in t.hierarchy.collect()}
    assert ("http://ex.org/t1", "http://ex.org/t2", "broader") in hier
    assert ("http://ex.org/t2", "http://ex.org/t3", "narrower") in hier
    xr = {(r["term_id"], r["xref_db"], r["xref_id"]) for r in t.xrefs.collect()}
    assert ("http://ex.org/t2", "exactMatch", "http://umls.org/C4264611") in xr


def test_skos_turtle_tables(spark):
    t = skos_to_tables(spark, TTL_SAMPLE, fmt="ttl")
    _assert_skos_tables(t)
    terms = {r["id"]: r for r in t.terms.collect()}
    assert terms["http://ex.org/t1"]["definition"] == "Learning from data"
    assert not any(i.startswith("_:") for i in terms)  # bnodes excluded


def test_skos_rdfxml_tables(spark):
    t = skos_to_tables(spark, RDFXML_SAMPLE, fmt="rdf")
    _assert_skos_tables(t)


def test_turtle_dot_terminator_without_space():
    """'c:physics.' — PN_LOCAL cannot end with '.', so the trailing dot
    terminates the statement (round-2 review: the tokenizer used to
    swallow it into the IRI and merge statements)."""
    quads = parse_turtle(
        "@prefix skos: <http://www.w3.org/2004/02/skos/core#> .\n"
        "@prefix ex: <http://ex.org/> .\n"
        "ex:quantum skos:broader ex:physics.\n"
        "ex:optics skos:broader ex:physics.\n"
    )
    broader = [(s, o) for s, p, o, _ in quads if p.endswith("broader")]
    assert broader == [
        ("http://ex.org/quantum", "http://ex.org/physics"),
        ("http://ex.org/optics", "http://ex.org/physics"),
    ]
    # internal dots in locals still belong to the name
    quads2 = parse_turtle(
        "@prefix ex: <http://ex.org/> .\n"
        "ex:v1.2 <http://ex.org/p> ex:v1.3 .\n"
    )
    assert ("http://ex.org/v1.2", "http://ex.org/p", "http://ex.org/v1.3", None) in quads2


def test_skos_foreign_only_label_fallback(spark):
    """Exact reference rule ('if lang == en or not label'): en replaces
    anything; otherwise the FIRST label seen wins, tagged or not."""
    t = ntriples_to_tables(
        spark,
        '<http://ex.org/x> <http://www.w3.org/2004/02/skos/core#prefLabel> "seulement"@fr .\n'
        '<http://ex.org/y> <http://www.w3.org/2004/02/skos/core#prefLabel> "nur"@de .\n'
        '<http://ex.org/y> <http://www.w3.org/2004/02/skos/core#prefLabel> "english"@en .\n'
        '<http://ex.org/z> <http://www.w3.org/2004/02/skos/core#prefLabel> "erst"@de .\n'
        '<http://ex.org/z> <http://www.w3.org/2004/02/skos/core#prefLabel> "untagged" .\n',
    )
    terms = {r["id"]: r["label"] for r in t.terms.collect()}
    assert terms["http://ex.org/x"] == "seulement"  # fallback, not NULL
    assert terms["http://ex.org/y"] == "english"  # en still wins
    assert terms["http://ex.org/z"] == "erst"  # first-seen wins over untagged


def test_turtle_parser_quads():
    quads = parse_turtle(TTL_SAMPLE)
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    skos_concept = "http://www.w3.org/2004/02/skos/core#Concept"
    assert ("http://ex.org/t1", rdf_type, skos_concept, None) in quads
    # comma-list fans out to two prefLabel quads with distinct lang tags
    pls = [q for q in quads if q[0] == "http://ex.org/t1" and q[1].endswith("prefLabel")]
    assert {(q[2], q[3]) for q in pls} == {
        ("apprentissage", "fr"),
        ("machine learning", "en"),
    }


def test_rdfxml_parser_nested_nodes():
    quads = parse_rdf_xml(RDFXML_SAMPLE)
    # nested node element contributes both the link quad and its own labels
    assert ("http://ex.org/t2", "http://www.w3.org/2004/02/skos/core#narrower",
            "http://ex.org/t3", None) in quads
    assert ("http://ex.org/t3", "http://www.w3.org/2004/02/skos/core#prefLabel",
            "convnets", "en") in quads


MSC_SAMPLE = "\t".join(["Code", "Label", "Description"]) + "\n" + "\n".join(
    [
        "68\tComputer science\tGeneral CS",
        "68T\tArtificial intelligence\t",
        "68T05\tLearning and adaptive systems\tML proper",
        "68T07\tArtificial neural networks\t",
        "03\tMathematical logic\t",
    ]
)

CSO_SAMPLE = "\n".join(
    [
        '<https://cso.kmi.open.ac.uk/topics/machine_learning>,<http://www.w3.org/2000/01/rdf-schema#label>,"machine learning@en"',
        "<https://cso.kmi.open.ac.uk/topics/machine_learning>,<http://cso.kmi.open.ac.uk/schema/cso#superTopicOf>,<https://cso.kmi.open.ac.uk/topics/deep_learning>",
        "<https://cso.kmi.open.ac.uk/topics/neural_nets>,<http://cso.kmi.open.ac.uk/schema/cso#contributesTo>,<https://cso.kmi.open.ac.uk/topics/deep_learning>",
        "<https://cso.kmi.open.ac.uk/topics/machine_learning>,<http://cso.kmi.open.ac.uk/schema/cso#relatedEquivalent>,<https://cso.kmi.open.ac.uk/topics/ml%20systems>",
        "<https://cso.kmi.open.ac.uk/topics/machine_learning>,<http://schema.org/relatedLink>,<https://www.wikidata.org/entity/Q2539>",
        "<https://cso.kmi.open.ac.uk/topics/machine_learning>,<http://www.w3.org/2002/07/owl#sameAs>,<http://dbpedia.org/resource/Machine_learning>",
        "malformed row",
    ]
)


def test_msc_csv_prefix_hierarchy(spark):
    """MSC code-structure hierarchy: 5-char -> 3-char -> 2-char prefixes
    (convert_ontologies.py:578-590)."""
    from science_datalake_spark.sources.ontology_csv import msc_csv_to_tables

    t = msc_csv_to_tables(spark, MSC_SAMPLE)
    terms = {r["id"]: r for r in t.terms.collect()}
    assert terms["MSC:68T05"]["label"] == "Learning and adaptive systems"
    assert terms["MSC:68T05"]["definition"] == "ML proper"
    assert terms["MSC:68T05"]["namespace"] == "level_5"
    assert terms["MSC:68"]["namespace"] == "level_2"
    hier = {(r["parent_id"], r["child_id"]) for r in t.hierarchy.collect()}
    assert ("MSC:68T", "MSC:68T05") in hier
    assert ("MSC:68T", "MSC:68T07") in hier
    assert ("MSC:68", "MSC:68T") in hier
    assert not any(c == "MSC:68" for _, c in hier)  # top level has no parent


def test_cso_csv_triples(spark):
    from science_datalake_spark.sources.ontology_csv import cso_csv_to_tables

    t = cso_csv_to_tables(spark, CSO_SAMPLE)
    ml = "https://cso.kmi.open.ac.uk/topics/machine_learning"
    terms = {r["id"]: r for r in t.terms.collect()}
    assert terms[ml]["label"] == "machine learning"  # @en tag stripped
    # synonym label falls back to URI tail, percent-decoded
    assert terms[ml]["synonyms"] == ["ml systems"]
    # un-labelled topics get URI-tail labels
    assert terms["https://cso.kmi.open.ac.uk/topics/deep_learning"]["label"] == "deep learning"
    hier = {(r["parent_id"], r["child_id"], r["relation"]) for r in t.hierarchy.collect()}
    assert (ml, "https://cso.kmi.open.ac.uk/topics/deep_learning", "superTopicOf") in hier
    # contributesTo is inverted: target becomes parent
    assert (
        "https://cso.kmi.open.ac.uk/topics/deep_learning",
        "https://cso.kmi.open.ac.uk/topics/neural_nets",
        "contributesTo",
    ) in hier
    xr = {(r["xref_db"], r["xref_id"]) for r in t.xrefs.collect()}
    assert ("wikidata", "https://www.wikidata.org/entity/Q2539") in xr
    assert ("sameAs", "http://dbpedia.org/resource/Machine_learning") in xr


def test_registry_dispatch(spark):
    """Every registry entry routes to a working parser; spot-check one of
    each parser kind end-to-end."""
    from science_datalake_spark.sources.ontology_registry import (
        ALL_ONTOLOGY_NAMES,
        ONTOLOGIES,
        convert,
    )

    assert len(ALL_ONTOLOGY_NAMES) == 13
    assert {s.parser for s in ONTOLOGIES.values()} == {"obo", "skos", "msc_csv", "cso_csv"}

    assert convert(spark, "go", OBO_SAMPLE).terms.count() == 4
    assert convert(spark, "mesh", NT_SAMPLE).terms.count() >= 2  # nt → skos walk
    assert convert(spark, "physh", TTL_SAMPLE).terms.count() == 3  # ttl → skos walk
    assert convert(spark, "unesco", RDFXML_SAMPLE).terms.count() == 3  # rdf → skos walk
    assert convert(spark, "msc2020", MSC_SAMPLE).terms.count() == 5
    assert convert(spark, "cso", CSO_SAMPLE).hierarchy.count() == 2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown ontology"):
        convert(spark, "nope", "")


def test_hierarchy_traversal(spark):
    t = obo_to_tables(spark, OBO_SAMPLE)
    edges = t.hierarchy.select(
        F.col("parent_id").alias("src"), F.col("child_id").alias("dst")
    )
    closure = transitive_closure(edges)
    pairs = {(r["a"], r["d"]) for r in closure.collect()}
    assert ("TOY:0001", "TOY:0003") in pairs  # grandparent via TOY:0002
    start = spark.createDataFrame([("TOY:0001",)], "node STRING")
    reach = k_hop(edges, start, k=2)
    assert {r["node"] for r in reach.collect()} == {"TOY:0001", "TOY:0002", "TOY:0003"}


def _closure_with_tier(monkeypatch, edges):
    """(transitive_closure(edges), tier): the distributed loop releases a
    checkpoint every round, the driver tier never does."""
    from science_datalake_spark.operators import graph as G

    released = []
    real = G._release_checkpoint
    with monkeypatch.context() as m:
        m.setattr(G, "_release_checkpoint", lambda df: (released.append(df), real(df)))
        out = G.transitive_closure(edges)
    return out, "distributed" if released else "driver"


def test_transitive_closure_tiers_agree_at_the_edge_gate(spark, monkeypatch):
    """At exactly the driver tier's row cap the closure is computed
    in-process; one more row (a duplicate edge, so the graph is the same)
    routes to the distributed loop. Both return the identical pair set:
    16,384 disjoint 5-node chains, 10 ancestor pairs each."""
    from science_datalake_spark.operators import graph as G

    cap = G._CLOSURE_SMALL_GRAPH_ROWS
    assert cap == 65536
    n_nodes = cap // 4 * 5
    edges = (
        spark.range(n_nodes)
        .filter(F.col("id") % 5 != 4)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    want = {
        (c + i, c + j) for c in range(0, n_nodes, 5) for i in range(5) for j in range(i + 1, 5)
    }
    at_cap, tier = _closure_with_tier(monkeypatch, edges)
    assert tier == "driver"
    over, tier = _closure_with_tier(
        monkeypatch,
        edges.unionByName(spark.createDataFrame([(0, 1)], edges.schema)),
    )
    assert tier == "distributed"
    got_at_cap = {(r["a"], r["d"]) for r in at_cap.collect()}
    got_over = {(r["a"], r["d"]) for r in over.collect()}
    assert len(want) == 163_840
    assert got_at_cap == got_over == want


def test_transitive_closure_over_the_pair_guard(spark, monkeypatch):
    """A small edge set whose closure outgrows the driver's pair guard
    (1,500 parents -> 1 hub -> 1,500 children: 3,000 edges, 2,253,000
    pairs) falls through to the distributed loop and still returns
    exactly the expected pairs."""
    import numpy as np

    from science_datalake_spark.operators import graph as G

    n = 1500
    hub = n
    parents = range(n)
    children = range(n + 1, 2 * n + 1)
    rows = [(p, hub) for p in parents] + [(hub, c) for c in children]
    edges = spark.createDataFrame(rows, "src LONG, dst LONG")
    want = (
        [(p, hub) for p in parents]
        + [(hub, c) for c in children]
        + [(p, c) for p in parents for c in children]
    )
    assert len(want) > G._CLOSURE_PAIR_CAP
    out, tier = _closure_with_tier(monkeypatch, edges)
    assert tier == "distributed"
    pdf = out.toPandas()
    width = 2 * n + 2  # pack (a, d) into one sortable int64 code
    got = np.sort(pdf["a"].to_numpy(np.int64) * width + pdf["d"].to_numpy(np.int64))
    exp = np.sort(np.array([a * width + d for a, d in want], dtype=np.int64))
    assert np.array_equal(got, exp)


def test_alignment_end_to_end_with_eval(spark):
    """OBO terms × topic labels → fuzzy linkage → gold-standard P/R/F1."""
    t = obo_to_tables(spark, OBO_SAMPLE)
    active = t.terms.filter(~F.col("obsolete"))
    topics = spark.createDataFrame(
        [("T1", "machine learning"), ("T2", "deep learnin"), ("T3", "quantum chemistry")],
        "topic_id STRING, display_name STRING",
    )
    matched = fuzzy_label_join(topics, active, "display_name", "label", threshold=0.85)
    out = matched.select(
        F.col("topic_id").alias("left_id"),
        F.col("id").alias("right_id"),
        "similarity",
    )
    got = {(r["left_id"], r["right_id"]) for r in out.collect()}
    assert ("T1", "TOY:0001") in got and ("T2", "TOY:0002") in got
    assert not any(left == "T3" for left, _ in got)

    gold = spark.createDataFrame(
        [
            ("T1", "TOY:0001", True),
            ("T2", "TOY:0002", True),
            ("T3", "TOY:0003", False),
        ],
        "left_id STRING, right_id STRING, is_correct BOOLEAN",
    )
    metrics = evaluate_alignment(out, gold, thresholds=(0.85, 0.99))
    m85 = metrics[0]
    assert m85.precision == 1.0 and m85.recall == 1.0 and m85.f1 == 1.0
    m99 = metrics[1]
    assert m99.recall == 0.5  # the 'deep learnin' typo match (jw≈0.985) drops out


def test_connected_components(spark):
    """Two components + a 4-hop chain: every node is labeled with its
    component minimum."""
    from science_datalake_spark.operators.graph import connected_components_star

    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "s"), ("s", "t")],
        "src STRING, dst STRING",
    )
    comp = {r["node"]: r["comp"] for r in connected_components_star(edges).collect()}
    assert comp == {
        "a": "a", "b": "a", "c": "a",
        "x": "x", "y": "x",
        "p": "p", "q": "p", "r": "p", "s": "p", "t": "p",
    }


def test_connected_components_raises_on_non_convergence(spark, monkeypatch):
    """Unconverged labels are indistinguishable from converged ones, so
    exhausting the star-round cap must fail loudly, not return split
    components. A chain needs more than one round, so a cap of 1 trips."""
    import pytest as _pytest

    from science_datalake_spark.operators import graph as G

    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(6)], "src STRING, dst STRING"
    )
    _force_rounds(monkeypatch)
    monkeypatch.setattr(G, "_STAR_MAX_ROUNDS", 1)
    with _pytest.raises(RuntimeError, match="did not converge"):
        G.connected_components_star(chain)
    monkeypatch.undo()
    _force_rounds(monkeypatch)
    ok = G.connected_components_star(chain)
    assert {r["comp"] for r in ok.collect()} == {"n0"}


def _force_rounds(monkeypatch) -> None:
    """No edge set fits a negative row cap, so connected_components_star
    runs its distributed rounds (the empty one included)."""
    from science_datalake_spark.operators import graph as G

    monkeypatch.setattr(G, "_CC_SMALL_GRAPH_EDGES", -1)


def _count_union_find(monkeypatch) -> list:
    """Record each run of connected_components_star's union-find tier."""
    from science_datalake_spark.operators import graph as G

    calls: list = []
    real = G._union_find_labels_local

    def counted(u, v):
        calls.append(len(u))
        return real(u, v)

    monkeypatch.setattr(G, "_union_find_labels_local", counted)
    return calls


def test_connected_components_star_small_graph_gate(spark, monkeypatch):
    """The round-14-opt bounded fast path (driver union-find when the
    normalized edge set fits ``_CC_SMALL_GRAPH_EDGES``) must be invisible
    in the results: identical labels at any gate setting, identical
    null-endpoint semantics (dropped, as the comparison filters always
    did), identical schema on non-string ids and on empty input."""
    from science_datalake_spark.operators import graph as G
    from science_datalake_spark.operators.graph import connected_components_star

    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("z", "z"), (None, "k"), ("k", None)],
        "src STRING, dst STRING",
    )
    want = {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"), ("z", "z")}
    # normalized distinct edge count here is 4 (null rows drop): thresholds
    # above, exactly at, and below the count, plus none
    for gate in (200_000, 4, 3, 1, 0):
        monkeypatch.setattr(G, "_CC_SMALL_GRAPH_EDGES", gate)
        got = {
            (r["node"], r["comp"])
            for r in connected_components_star(edges).collect()
        }
        assert got == want, f"_CC_SMALL_GRAPH_EDGES={gate}"
    monkeypatch.undo()

    ints = spark.createDataFrame([(2, 1), (3, 2), (9, 9)], "src LONG, dst LONG")
    fast = connected_components_star(ints)
    _force_rounds(monkeypatch)
    slow = connected_components_star(ints)
    monkeypatch.undo()
    assert fast.schema == slow.schema
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect())) == [
        (1, 1),
        (2, 1),
        (3, 1),
        (9, 9),
    ]

    empty = spark.createDataFrame([], "src STRING, dst STRING")
    out = connected_components_star(empty)
    assert out.count() == 0
    _force_rounds(monkeypatch)
    assert out.schema == connected_components_star(empty).schema


def test_release_checkpoint_swallows_only_py4j_errors(spark):
    """A frame with no ``LogicalRDD`` at its root (nothing checkpointed to
    free) fails JVM-side with a ``Py4JError``, which is swallowed; any
    other error propagates."""
    import types

    import pytest

    from science_datalake_spark.operators import graph as G

    G._release_checkpoint(None)
    G._release_checkpoint(spark.range(3))
    with pytest.raises(AttributeError):
        G._release_checkpoint(types.SimpleNamespace(_jdf=None))


def test_connected_components_star_row_cap_boundary(spark, monkeypatch):
    """An edge set of exactly ``_CC_SMALL_GRAPH_EDGES`` normalized rows
    takes the union-find tier; one row more takes the distributed rounds.
    Both give the same labels."""
    from science_datalake_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("b", "a"), ("a", "b"), ("c", "b"), ("x", "y"), ("z", "z")],
        "src STRING, dst STRING",
    )  # 4 normalized edges: (b, a) twice folds into one
    want = {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"), ("z", "z")}
    calls = _count_union_find(monkeypatch)
    labels = {}
    for cap in (4, 3):
        monkeypatch.setattr(G, "_CC_SMALL_GRAPH_EDGES", cap)
        labels[cap] = {tuple(r) for r in G.connected_components_star(edges).collect()}
    assert calls == [4], "union-find at the cap only, the rounds at cap+1"
    assert labels[4] == labels[3] == want


def test_connected_components_star_byte_cap_boundary(spark, monkeypatch):
    """String ids whose octet lengths sum to exactly
    ``_CC_SMALL_GRAPH_BYTES`` take the union-find tier; one byte more
    takes the distributed rounds. Both give the same labels."""
    from science_datalake_spark.operators import graph as G

    rows = [("u" * 30 + str(i), "v" * 20 + str(i % 3)) for i in range(6)]
    edges = spark.createDataFrame(rows, "src STRING, dst STRING")
    total = sum(len(a) + len(b) for a, b in rows)  # 6 distinct normalized edges
    calls = _count_union_find(monkeypatch)
    labels = {}
    for cap in (total, total - 1):
        monkeypatch.setattr(G, "_CC_SMALL_GRAPH_BYTES", cap)
        labels[cap] = sorted(map(tuple, G.connected_components_star(edges).collect()))
    assert calls == [6], "union-find at the cap only, the rounds at cap+1"
    assert labels[total] == labels[total - 1]
    assert {c for _, c in labels[total]} == {"u" * 30 + str(j) for j in range(3)}


def test_connected_components_cache_flat_across_iterations(spark, monkeypatch):
    """The per-iteration localCheckpoint must not accumulate cached RDDs
    (round-3 advice finding): a 60-hop chain needs several rounds, but
    at most the FINAL result's blocks may remain cached afterwards. The
    chain still closes into one component labeled by its minimum."""
    from science_datalake_spark.operators.graph import connected_components_star

    spark.catalog.clearCache()
    # deterministic baseline: drop every RDD-level cache block (see
    # test_operators.test_dedup_selfjoins_release_input_cache)
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd in list(jmap.values()):
        rdd.unpersist(True)
    base = spark.sparkContext._jsc.getPersistentRDDs().size()

    chain = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(60)], "src STRING, dst STRING"
    )
    # the distributed rounds, forced — the per-round cache discipline is
    # exactly what this test pins
    _force_rounds(monkeypatch)
    out = connected_components_star(chain)
    rows = out.collect()
    assert len(rows) == 61
    assert {r["comp"] for r in rows} == {"n000"}
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after - base <= 1  # only the live result, never one-per-round


def test_cooccurrence_basic(spark):
    m = spark.createDataFrame(
        [("g1", "a"), ("g1", "b"), ("g1", "c"), ("g2", "a"), ("g2", "b")],
        "grp STRING, item STRING",
    )
    pairs = {(r["item_a"], r["item_b"]): r["n_shared"] for r in cooccurrence(m, "grp", "item").collect()}
    assert pairs[("a", "b")] == 2 and pairs[("a", "c")] == 1


def test_cooccurrence_pack_keys_guard(spark):
    """pack_keys=True enforces its id contract loudly: an id >= 2^31 (or
    negative) would overflow/sign-extend into silently collided pairs, so
    the folded assert_true must FAIL the job instead. Valid ids (incl.
    NULLs, dropped by collect_set as on the unpacked layout) match the
    unpacked result exactly."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    ok = spark.createDataFrame(
        [("g1", 1), ("g1", 2), ("g1", None), ("g2", 1), ("g2", 2)],
        "grp STRING, item INT",
    )
    packed = {
        (r["item_a"], r["item_b"]): r["n_shared"]
        for r in cooccurrence(ok, "grp", "item", pack_keys=True).collect()
    }
    plain = {
        (r["item_a"], r["item_b"]): r["n_shared"]
        for r in cooccurrence(ok, "grp", "item").collect()
    }
    assert packed == plain == {(1, 2): 2}

    for bad_id in (2**31, -5):
        bad = spark.createDataFrame(
            [("g1", 1), ("g1", bad_id)], "grp STRING, item LONG"
        )
        with pytest.raises(SparkRuntimeException, match="2\\^31"):
            cooccurrence(bad, "grp", "item", pack_keys=True).collect()
        # the unpacked layout stays total on the same ids
        assert cooccurrence(bad, "grp", "item").count() == 1


def test_tfidf_vectors_shape(spark, sf_oracle):
    from science_datalake_spark.operators.ranking import tfidf_vectors

    from science_datalake_spark.catalog import table

    d = table(spark, sf_oracle, "documents").limit(50)
    vecs, model = tfidf_vectors(d, "doc_id", "text", num_features=256)
    row = vecs.first()
    assert row["tfidf"].size == 256
    assert vecs.count() == 50


def test_connected_components_star_random_graphs_vs_union_find(spark, monkeypatch):
    """Star contraction vs a pure-Python union-find oracle on seeded
    random graphs (sparse, dense, and forest-shaped)."""
    import random

    from science_datalake_spark.operators.graph import connected_components_star

    def union_find_labels(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical label = component minimum
        comp = {}
        for n in nodes:
            r = find(n)
            comp[n] = min(comp.get(r, r), r)
        roots = {n: find(n) for n in nodes}
        mins = {}
        for n in nodes:
            r = roots[n]
            mins[r] = min(mins.get(r, n), n)
        return {n: mins[roots[n]] for n in nodes}

    for seed, n_nodes, n_edges in [(1, 40, 20), (2, 40, 80), (3, 60, 59)]:
        rng = random.Random(seed)
        edges = [
            (f"n{rng.randrange(n_nodes):03d}", f"n{rng.randrange(n_nodes):03d}")
            for _ in range(n_edges)
        ]
        nodes = sorted({x for e in edges for x in e})
        expected = union_find_labels(edges, nodes)
        df = spark.createDataFrame(edges, "src STRING, dst STRING")
        # distributed rounds forced (the default gate would route these
        # tiny graphs to the driver-side union-find — which this oracle
        # IS, so that comparison would be vacuous)
        _force_rounds(monkeypatch)
        got = {r["node"]: r["comp"] for r in connected_components_star(df).collect()}
        monkeypatch.undo()
        assert got == expected, f"seed={seed}"
        # the bounded fast path must agree with both
        fast = {
            r["node"]: r["comp"] for r in connected_components_star(df).collect()
        }
        assert fast == expected, f"seed={seed} (fast path)"


def test_annotated_stratified_metrics_hand_computed(spark):
    """The round-10 stratified evaluator must reproduce the reference's
    compute_metrics arithmetic (evaluate_ontology_alignment.py:259-326)
    on a hand-computed fixture: per-stratum counts/precision, threshold
    P/R/F1 with the empty-set-zeros convention, and the PR sweep with
    the empty-set (P=1, R=0) curve convention."""
    from science_datalake_spark.evaluation import (
        annotated_pr_curve,
        annotated_stratum_metrics,
        annotated_threshold_metrics,
    )

    rows = [
        # (stratum, similarity, label)
        ("exact", 0.97, "correct"),
        ("exact", 0.96, "correct"),
        ("exact", 0.95, "partial"),
        ("high", 0.90, "correct"),
        ("high", 0.88, "incorrect"),
        ("mid", 0.80, "partial"),
        ("mid", 0.78, "incorrect"),
        ("borderline", 0.70, "correct"),
    ]
    ann = spark.createDataFrame(rows, "stratum STRING, similarity DOUBLE, label STRING")

    strata = {r["stratum"]: r for r in annotated_stratum_metrics(ann).collect()}
    assert strata["exact"]["n"] == 3 and strata["exact"]["n_correct"] == 2
    assert strata["exact"]["n_partial"] == 1 and strata["exact"]["n_incorrect"] == 0
    assert strata["exact"]["precision"] == round(2 / 3, 4)
    assert strata["high"]["precision"] == 0.5
    assert strata["mid"]["precision"] == 0.0
    assert strata["borderline"]["precision"] == 1.0

    # total correct = 4
    thr = {r["threshold"]: r for r in annotated_threshold_metrics(ann).collect()}
    # >= 0.65: all 8 pairs, tp=4 -> P=0.5, R=1.0, F1=2*.5*1/1.5
    assert thr[0.65]["n"] == 8 and thr[0.65]["precision"] == 0.5
    assert thr[0.65]["recall"] == 1.0 and thr[0.65]["f1"] == round(2 * 0.5 / 1.5, 4)
    # >= 0.85: 5 pairs (.97,.96,.95,.90,.88), tp=3 -> P=0.6, R=0.75
    assert thr[0.85]["n"] == 5 and thr[0.85]["precision"] == 0.6
    assert thr[0.85]["recall"] == 0.75
    # >= 0.95: 3 pairs, tp=2
    assert thr[0.95]["n"] == 3 and thr[0.95]["precision"] == round(2 / 3, 4)
    assert thr[0.95]["recall"] == 0.5

    curve = {r["threshold"]: r for r in annotated_pr_curve(ann).collect()}
    assert len(curve) == 41  # 0.60 .. 1.00 inclusive
    # above 0.97 nothing survives -> reference's curve endpoint: P=1, R=0
    assert curve[0.98]["n"] == 0 and curve[0.98]["precision"] == 1.0
    assert curve[0.98]["recall"] == 0.0 and curve[0.98]["f1"] == 0.0
    # at 0.60 everything: same as the 0.65 block here
    assert curve[0.60]["n"] == 8 and curve[0.60]["recall"] == 1.0
    # monotone n
    ns = [curve[t]["n"] for t in sorted(curve)]
    assert ns == sorted(ns, reverse=True)


def test_group_auc_hand_computed_and_vs_pairwise(spark):
    """group_auc: hand-checkable instance with TIES, plus equivalence to
    the O(n_pos*n_neg) pairwise definition
    (#(pos>neg) + 0.5*#(pos==neg)) / (n_pos*n_neg) on seeded random
    groups — the Mann-Whitney midrank identity. Degenerate one-class
    groups return NULL auc; perfect separation returns 1.0."""
    import random

    from science_datalake_spark.evaluation import group_auc

    # g1: scores pos {0.9, 0.5}, neg {0.5, 0.1}:
    # pairs: (.9>.5)+(.9>.1)+(.5==.5 -> .5)+(.5>.1) = 3.5 of 4 -> 0.875
    rows = [
        ("g1", 0.9, 1), ("g1", 0.5, 1), ("g1", 0.5, 0), ("g1", 0.1, 0),
        ("g2", 0.8, 1), ("g2", 0.2, 0),            # perfect -> 1.0
        ("g3", 0.7, 1), ("g3", 0.6, 1),            # one-class -> NULL
        ("g4", None, 1), ("g4", 0.3, None), ("g4", 0.4, 1), ("g4", 0.2, 0),
    ]
    df = spark.createDataFrame(rows, "g STRING, s DOUBLE, y INT")
    got = {r["g"]: (r["n_pos"], r["n_neg"], r["auc"]) for r in group_auc(df, ["g"], "s", "y").collect()}
    assert got["g1"] == (2, 2, 0.875)
    assert got["g2"] == (1, 1, 1.0)
    assert got["g3"] == (2, 0, None)
    assert got["g4"] == (1, 1, 1.0)  # NULL score/label rows excluded

    rng = random.Random(41)
    rnd = [
        (f"r{i % 4}", round(rng.uniform(0, 1), 1), rng.randint(0, 1))
        for i in range(240)
    ]
    rdf = spark.createDataFrame(rnd, "g STRING, s DOUBLE, y INT")
    got = {r["g"]: r["auc"] for r in group_auc(rdf, ["g"], "s", "y").collect()}
    for g in sorted({r[0] for r in rnd}):
        pos = [s for gg, s, y in rnd if gg == g and y == 1]
        neg = [s for gg, s, y in rnd if gg == g and y == 0]
        if not pos or not neg:
            assert got[g] is None
            continue
        num = sum((p > n) + 0.5 * (p == n) for p in pos for n in neg)
        assert abs(got[g] - num / (len(pos) * len(neg))) < 1e-12, g


def test_calibration_report_hand_computed(spark):
    """Hand-checked bins (n_bins=2): g1 probs/labels chosen so bin 0 =
    {0.2/0, 0.4/1} (conf .3, acc .5, gap .2) and bin 1 = {0.6/1, 1.0/1}
    (conf .8, acc 1.0, gap .2): ece = .2, max_gap = .2, brier =
    (0.04+0.36+0.16+0)/4 = 0.14. p=1.0 clamps into the top bin;
    out-of-range probabilities fail loudly; NULLs excluded."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from science_datalake_spark.evaluation import calibration_report

    rows = [
        ("g1", 0.2, 0), ("g1", 0.4, 1), ("g1", 0.6, 1), ("g1", 1.0, 1),
        ("g1", None, 1), ("g1", 0.5, None),
    ]
    df = spark.createDataFrame(rows, "g STRING, p DOUBLE, y INT")
    r = calibration_report(df, ["g"], "p", "y", n_bins=2).collect()[0]
    assert (r["n"], r["ece"], r["max_gap"], r["brier"]) == (4, 0.2, 0.2, 0.14)

    bad = spark.createDataFrame([("g", 1.5, 1)], "g STRING, p DOUBLE, y INT")
    with pytest.raises(SparkRuntimeException, match="outside"):
        calibration_report(bad, ["g"], "p", "y").collect()


def test_calibration_report_perfect_and_random(spark):
    """A perfectly-calibrated scorer (within-bin accuracy == confidence)
    scores ece ~0; a constant-0.9 scorer on a 50/50 label mix scores
    ece = 0.4 and brier = 0.9^2*.5 + 0.1^2*.5 = 0.41."""
    from science_datalake_spark.evaluation import calibration_report

    # prob 0.25 with exactly 25% positives
    perfect = [("p", 0.25, 1 if i % 4 == 0 else 0) for i in range(400)]
    overconf = [("o", 0.9, i % 2) for i in range(400)]
    df = spark.createDataFrame(
        [(g, p, int(y)) for g, p, y in perfect + overconf],
        "g STRING, p DOUBLE, y INT",
    )
    got = {r["g"]: r for r in calibration_report(df, ["g"], "p", "y").collect()}
    assert got["p"]["ece"] == 0.0 and got["p"]["brier"] == 0.1875
    assert got["o"]["ece"] == 0.4 and got["o"]["brier"] == 0.41


def test_connected_components_star_rounds_match_fast_path(spark, monkeypatch):
    """The distributed star rounds label identically to the union-find
    tier on every graph class — dense blob, 5-chain, 41-hop chain,
    degree-skewed hub star, pair, self-loop singleton — and both equal
    the component minima computed in plain Python."""
    from science_datalake_spark.operators.graph import connected_components_star

    blob = [("b", "a"), ("b", "c"), ("a", "c"), ("c", "d")]
    chain5 = [("p", "q"), ("q", "r"), ("r", "s"), ("s", "t")]
    chain41 = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(40)]
    hub = [("hub", f"leaf{i:02d}") for i in range(50)]
    rows = blob + chain5 + chain41 + hub + [("x", "y"), ("z", "z")]
    edges = spark.createDataFrame(rows, "src STRING, dst STRING")
    want = {n: "a" for n in "abcd"}
    want.update({n: "p" for n in "pqrst"})
    want.update({f"n{i:03d}": "n000" for i in range(41)})
    want.update({n: "hub" for _, n in hub})
    want["hub"] = "hub"
    want.update({"x": "x", "y": "x", "z": "z"})
    # the distributed rounds, forced: with the default gate this fixture
    # takes the union-find fast path
    _force_rounds(monkeypatch)
    rounds = sorted(map(tuple, connected_components_star(edges).collect()))
    monkeypatch.undo()
    fast = sorted(map(tuple, connected_components_star(edges).collect()))
    assert rounds == fast == sorted(want.items())


def test_connected_components_star_fast_path_guards(spark, monkeypatch):
    """Round-15 ADVICE guards on the driver union-find tier: (1) the
    fast path is byte-capped, not just row-capped — wide string ids
    above ``_CC_SMALL_GRAPH_BYTES`` route to the distributed rounds; (2)
    fractional node ids skip the fast path entirely (Python NaN
    comparisons disagree with Spark's NaN-largest ordering), with
    identical labels either way on NaN-free data."""
    from science_datalake_spark.operators import graph as G

    def boom(*a, **k):  # trips if the fast path is taken
        raise AssertionError("fast path must not run")

    wide = spark.createDataFrame(
        [("u" * 200 + str(i), "v" * 200 + str(i % 3)) for i in range(6)],
        "src STRING, dst STRING",
    )
    _force_rounds(monkeypatch)
    want = sorted(map(tuple, G.connected_components_star(wide).collect()))
    monkeypatch.undo()
    # under the default byte gate this tiny graph IS fast-pathed...
    assert sorted(
        map(tuple, G.connected_components_star(wide).collect())
    ) == want
    # ...but a 100-byte cap routes it to the distributed rounds
    monkeypatch.setattr(G, "_union_find_labels_local", boom)
    monkeypatch.setattr(G, "_CC_SMALL_GRAPH_BYTES", 100)
    assert sorted(map(tuple, G.connected_components_star(wide).collect())) == want

    floats = spark.createDataFrame(
        [(2.0, 1.0), (3.0, 2.0), (9.5, 9.5)], "src DOUBLE, dst DOUBLE"
    )
    # fractional ids never take the fast path (boom still patched)
    got = sorted(map(tuple, G.connected_components_star(floats).collect()))
    assert got == [(1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (9.5, 9.5)]
    monkeypatch.undo()
    # and the labels equal the forced-distributed ones
    _force_rounds(monkeypatch)
    assert got == sorted(map(tuple, G.connected_components_star(floats).collect()))
