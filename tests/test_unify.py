"""Unification + fulltext + sanity-suite tests on FIXTURES.md-shaped data.

Golden counts are fixed functions of the fixture seed — recorded once,
asserted forever (the reference's check #10 discipline)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from science_datalake_spark import sanity
from science_datalake_spark.fulltext import fulltext_stats, unify_fulltext
from science_datalake_spark.functions import inverted_index_to_text
from science_datalake_spark.unify import build_unified_papers, coverage_upset
from tests import fixtures


def _windowed_reference(oa, s2, sci, retractions=None, code_links=None):
    """The reference-shaped unify plan — window top-1 per source, distinct
    DOI spine, three left fan-in joins — kept here only as the equality
    reference for ``build_unified_papers``'s one-shuffle argmin build."""
    from science_datalake_spark.operators.windows import top1_per_key
    from science_datalake_spark.unify import (
        _keyed,
        _openalex_keyed,
        _s2ag_keyed,
        _sciscinet_keyed,
    )

    oa_k = top1_per_key(
        _openalex_keyed(oa),
        keys=["doi"],
        order=[F.desc_nulls_last("oa_cited_by_count"), F.asc("openalex_id")],
    )
    s2_k = top1_per_key(
        _s2ag_keyed(s2),
        keys=["doi"],
        order=[F.desc_nulls_last("s2_citationcount"), F.asc("corpusid")],
    )
    sci_k = top1_per_key(
        _sciscinet_keyed(sci),
        keys=["doi"],
        order=[F.desc_nulls_last("sci_citation_count"), F.asc("sci_paperid")],
    )
    spine = (
        oa_k.select("doi")
        .unionByName(s2_k.select("doi"))
        .unionByName(sci_k.select("doi"))
        .distinct()
    )
    unified = (
        spine.join(oa_k, "doi", "left")
        .join(s2_k, "doi", "left")
        .join(sci_k, "doi", "left")
    )
    for dim, col, hit in (
        (retractions, "original_paper_doi", "rw_hit"),
        (code_links, "doi", "pwc_hit"),
    ):
        if dim is not None:
            hits = _keyed(dim, col).select("doi").distinct().withColumn(hit, F.lit(True))
            unified = unified.join(F.broadcast(hits), "doi", "left")
        else:
            unified = unified.withColumn(hit, F.lit(None).cast("boolean"))
    return unified.select(
        "doi",
        F.coalesce("oa_title", "s2_title").alias("title"),
        F.coalesce("oa_year", "s2_year").alias("year"),
        "openalex_id",
        "corpusid",
        "sci_paperid",
        "oa_cited_by_count",
        "s2_citationcount",
        "sci_citation_count",
        "disruption",
        F.col("openalex_id").isNotNull().alias("has_openalex"),
        F.col("corpusid").isNotNull().alias("has_s2ag"),
        F.col("sci_paperid").isNotNull().alias("has_sciscinet"),
        F.coalesce(F.col("pwc_hit"), F.lit(False)).alias("has_pwc"),
        F.coalesce(F.col("rw_hit"), F.lit(False)).alias("has_retraction"),
        (
            F.coalesce("oa_is_retracted", F.lit(False))
            | F.coalesce(F.col("rw_hit"), F.lit(False))
        ).alias("is_retracted"),
    )


@pytest.fixture(scope="module")
def unified(spark):
    return build_unified_papers(
        oa=fixtures.works_b(spark),
        s2=fixtures.papers_a(spark),
        sci=fixtures.metrics_c(spark),
        retractions=fixtures.retractions(spark),
        code_links=fixtures.code_links(spark),
    ).cache()


def test_unified_sanity_suite(unified):
    results = sanity.run_core(unified)
    results.append(sanity.check_known_entity(unified, fixtures.WAKEFIELD_DOI))
    for r in results:
        print(r)
    assert all(r.passed for r in results), [str(r) for r in results if not r.passed]


def _one_by_one(df):
    return [
        sanity.check_doi_format(df),
        sanity.check_flags_match_nullness(df),
        sanity.check_pk_unique(df),
        sanity.check_citation_corr(df),
        sanity.check_year_distribution(df),
        sanity.check_retraction_rate(df),
    ]


def test_run_core_equals_checks_one_by_one(spark, unified):
    """run_core's single fused aggregate must report exactly what the six
    check_* functions report one action at a time — on a passing table
    and on one that breaks every check it can."""
    fused = sanity.run_core(unified)
    assert fused == _one_by_one(unified)
    assert all(c.passed for c in fused)

    proto = unified.orderBy("doi").first().asDict()

    def bad(i, **kw):
        return {**proto, "doi": f"10.9999/bad{i}", "has_retraction": True, "year": None, **kw}

    rows = [
        bad(0, doi="10.9999/UPPER"),
        bad(1, doi="10.9999/dup"),
        bad(2, doi="10.9999/dup"),
        bad(3, has_openalex=not proto["has_openalex"]),
        bad(4),
    ]
    broken = unified.unionByName(spark.createDataFrame(rows, unified.schema))
    fused = sanity.run_core(broken)
    assert fused == _one_by_one(broken)
    failed = {c.name for c in fused if not c.passed}
    assert failed == {
        "doi_format", "flags_nullness", "pk_unique", "year_distribution", "retraction_rate"
    }, [str(c) for c in fused]


def test_unified_golden_counts(unified):
    # distinct clean DOIs across the three sources (fixed by seed)
    n = unified.count()
    assert n == unified.select("doi").distinct().count()
    # spine must cover every source's cleaned DOI set exactly
    flags = unified.agg(
        F.sum(F.col("has_openalex").cast("int")).alias("oa"),
        F.sum(F.col("has_s2ag").cast("int")).alias("s2"),
        F.sum(F.col("has_sciscinet").cast("int")).alias("sci"),
        F.sum(F.col("has_pwc").cast("int")).alias("pwc"),
        F.sum(F.col("has_retraction").cast("int")).alias("rw"),
    ).first()
    # golden values recorded from the seeded fixtures
    assert flags["oa"] == 221, flags
    assert flags["s2"] == 198, flags
    assert flags["sci"] == 181, flags
    assert flags["pwc"] == 12, flags
    assert flags["rw"] == 1, flags


def test_coverage_upset_cells(unified):
    cells = coverage_upset(unified)
    total = cells.agg(F.sum("n")).first()[0]
    assert total == unified.count()


def test_dedup_tie_break_deterministic(spark):
    """Duplicate DOIs with equal citation counts must resolve identically
    across runs (unique-id tie-break)."""
    a = build_unified_papers(
        oa=fixtures.works_b(spark), s2=fixtures.papers_a(spark), sci=fixtures.metrics_c(spark)
    )
    b = build_unified_papers(
        oa=fixtures.works_b(spark), s2=fixtures.papers_a(spark), sci=fixtures.metrics_c(spark)
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_fulltext_priority_dedup(spark):
    src = fixtures.fulltext_src(spark)
    out = unify_fulltext(src).cache()
    # exactly one row per clean DOI
    assert out.count() == out.select("doi").distinct().count() == 60
    # no junk/prefixed DOI survives
    assert out.filter(F.col("doi").like("%doi.org%")).count() == 0
    # priority: every DOI present in pmc must resolve to pmc
    pmc_dois = (
        unify_fulltext(src.filter(F.col("source") == "pmc")).select("doi").distinct()
    )
    winners = out.join(pmc_dois, "doi").select("source").distinct().collect()
    assert [r["source"] for r in winners] == ["pmc"]
    stats = fulltext_stats(out)
    assert stats.count() > 0


def test_inverted_index_reconstruction(spark):
    df = spark.createDataFrame(
        [
            ('{"the": [0, 3], "study": [1], "of": [2], "things": [4]}',),
            ('{"solo": [0]}',),
            (None,),
        ],
        "inv STRING",
    )
    out = df.select(inverted_index_to_text(F.col("inv")).alias("t")).collect()
    assert out[0]["t"] == "the study of the things"
    assert out[1]["t"] == "solo"
    assert out[2]["t"] is None


def test_grouped_build_equals_windowed_build(spark):
    """build_unified_papers (one-shuffle min_by fan-in) must produce
    row-for-row the SAME relation as the windowed reference-shaped plan —
    same dedup winners (desc_nulls_last citation, asc id tie-break), same
    left-join absence semantics, same flags."""
    from science_datalake_spark.synth import (
        synth_code_links,
        synth_openalex,
        synth_retractions,
        synth_s2ag,
        synth_sciscinet,
    )

    oa, s2, sci = (
        synth_openalex(spark, 3000),
        synth_s2ag(spark, 2500),
        synth_sciscinet(spark, 2000),
    )
    rw, cl = synth_retractions(spark, 200), synth_code_links(spark, 300)
    a = _windowed_reference(oa, s2, sci, retractions=rw, code_links=cl)
    b = build_unified_papers(oa, s2, sci, retractions=rw, code_links=cl)
    assert a.columns == b.columns
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb
    # and the no-dims variants agree on the null-flag padding path too
    a0 = _windowed_reference(oa, s2, sci)
    b0 = build_unified_papers(oa, s2, sci)
    assert sorted(map(tuple, a0.collect())) == sorted(map(tuple, b0.collect()))


def test_grouped_build_handles_fractional_citations(spark):
    """The argmin order key must NOT truncate fractional citation metrics
    (a long cast tied 10.9 with 10.2 and let the id tie-break pick the
    WRONG top-1 row): with DOUBLE-typed citations both the build and the
    windowed reference must keep the 10.9 row, and both must rank NaN
    above +inf."""

    def src_oa(rows):
        return spark.createDataFrame(
            rows,
            "id STRING, doi STRING, title STRING, publication_year INT, "
            "cited_by_count DOUBLE, is_retracted BOOLEAN",
        )

    oa = src_oa(
        [
            ("B", "10.1/x", "t", 2020, 10.9, False),
            ("A", "10.1/x", "t", 2020, 10.2, False),
            ("C", "10.2/y", "t", 2021, None, False),  # null citation ranks last
            ("D", "10.2/y", "t", 2021, 1.0, False),
            # a desc sort ranks NaN above +inf; the lower id breaks a tie
            ("G", "10.3/z", "t", 2022, float("inf"), False),
            ("F", "10.3/z", "t", 2022, float("nan"), False),
            ("E", "10.3/z", "t", 2022, float("nan"), False),
        ]
    )
    s2 = spark.createDataFrame(
        [(1, ("10.1/x",), "t", 2020, 5)],
        "corpusid LONG, externalids STRUCT<DOI:STRING>, title STRING, year INT, citationcount LONG",
    )
    sci = spark.createDataFrame(
        [("P1", "10.1/x", 3, "0.5")],
        "paperid STRING, doi STRING, citation_count LONG, disruption STRING",
    )
    a = _windowed_reference(oa, s2, sci)
    b = build_unified_papers(oa, s2, sci)
    wa = {r["doi"]: r["openalex_id"] for r in a.collect()}
    wb = {r["doi"]: r["openalex_id"] for r in b.collect()}
    assert wa == wb == {"10.1/x": "B", "10.2/y": "D", "10.3/z": "E"}, (wa, wb)


def test_synth_unified_materialized_once_per_session(spark, sf_smoke):
    """Round-8 materialize-once (the reference's materialize_unified_papers
    design decision): the six unify/vignette queries must share ONE
    persisted spine per (session, sf_dir) — a second call returns the
    same cached handle, and the cached relation still answers the
    coverage rollup correctly."""
    from science_datalake_spark.queries.unify_q import _synth_unified
    from science_datalake_spark.unify import coverage_upset

    a = _synth_unified(spark, sf_smoke)
    b = _synth_unified(spark, sf_smoke)
    assert a is b
    assert a.storageLevel.useMemory or a.storageLevel.useDisk
    # the cached spine still computes: every row lands in exactly one
    # coverage combination
    up = coverage_upset(a)
    total = up.agg(F.sum("n").alias("t")).collect()[0]["t"]
    assert total == a.count() > 0


def test_unified_cache_evicts_oldest(spark, sf_smoke):
    """Cap-pressure eviction must drop the OLDEST spine (FIFO, like the
    IVF index entries), not the newest — round-8 verdict 'What's wrong'
    #2: dict.popitem() is LIFO and would evict the entry just inserted
    while stale ones linger. The evicted spine is unpersisted."""
    import types

    import science_datalake_spark.queries.unify_q as uq
    from science_datalake_spark import cache

    other = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId="other-app")
    )
    # four persisted stand-in spines of another application fill the cap
    dummies = [spark.range(i + 1).persist() for i in range(4)]
    name = "unify_q.synth_unified"
    for i, dummy in enumerate(dummies):
        cache.cached(other, name, (f"dir{i}",), (), lambda: dummy, cap=4)
    got = uq._synth_unified(spark, sf_smoke)
    assert uq._synth_unified(spark, sf_smoke) is got
    assert not dummies[0].storageLevel.useMemory, "oldest entry must be evicted"
    assert all(d.storageLevel.useMemory for d in dummies[1:])

    def boom():
        raise AssertionError("a surviving entry must hit")

    # the remaining pre-filled entries (all but the first) survive
    assert cache.cached(other, name, ("dir1",), (), boom, cap=4) is dummies[1]
    for d in dummies:
        d.unpersist()
