"""Scale-proof of the unify pipeline: sf0.1-volume skewed synthetic
sources (30% null keys, 10% junk, a 10%-of-corpus hot DOI, moderate
duplication) through build_unified_papers + the sanity suite, with golden
counts mirrored in plain Python and plan-property assertions."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from science_datalake_spark import sanity
from science_datalake_spark.synth import (
    HOT,
    expected_unified,
    synth_code_links,
    synth_openalex,
    synth_retractions,
    synth_s2ag,
    synth_sciscinet,
)
from science_datalake_spark.unify import build_unified_papers, coverage_upset
from tests import plan_helpers as plans

N_OA, N_S2, N_SCI = 60_000, 45_000, 30_000


@pytest.fixture(scope="module")
def unified_scale(spark):
    df = build_unified_papers(
        synth_openalex(spark, N_OA),
        synth_s2ag(spark, N_S2),
        synth_sciscinet(spark, N_SCI),
        retractions=synth_retractions(spark, 500),
        code_links=synth_code_links(spark, 400),
    ).cache()
    yield df
    df.unpersist()


def test_golden_counts_match_python_mirror(unified_scale):
    exp = expected_unified(N_OA, N_S2, N_SCI)
    assert unified_scale.count() == exp["rows"]
    got = unified_scale.agg(
        F.sum(F.col("has_openalex").cast("long")).alias("oa"),
        F.sum(F.col("has_s2ag").cast("long")).alias("s2"),
        F.sum(F.col("has_sciscinet").cast("long")).alias("sci"),
    ).first()
    assert got["oa"] == exp["has_openalex"]
    assert got["s2"] == exp["has_s2ag"]
    assert got["sci"] == exp["has_sciscinet"]


def test_hot_key_collapses_deterministically(unified_scale):
    """The 10%-of-every-source hot DOI must surface as EXACTLY one row,
    carrying the top-1-by-citation record of each source (desc citation,
    asc id tie-break — mirrored in Python over the generator spec)."""
    rows = unified_scale.filter(F.col("doi") == HOT).collect()
    assert len(rows) == 1
    row = rows[0]
    # python mirror of the openalex top-1 dedup: ids with id%10==4
    best_oa = max(
        (i for i in range(N_OA) if i % 10 == 4),
        key=lambda i: ((i * 37) % 1000, -i),
    )
    assert row["openalex_id"] == f"https://openalex.org/W{best_oa:09d}"
    assert row["oa_cited_by_count"] == (best_oa * 37) % 1000
    best_s2 = max(
        (i for i in range(N_S2) if i % 10 == 4),
        key=lambda i: ((i * 13) % 800, -i),
    )
    assert row["corpusid"] == best_s2
    assert row["has_openalex"] and row["has_s2ag"] and row["has_sciscinet"]


def test_sanity_suite_on_skewed_unified(unified_scale):
    for check in (
        sanity.check_doi_format(unified_scale),
        sanity.check_flags_match_nullness(unified_scale),
        sanity.check_pk_unique(unified_scale),
        sanity.check_year_distribution(unified_scale),
    ):
        assert check.passed, str(check)


def test_retraction_and_code_flags(unified_scale, spark):
    exp = expected_unified(N_OA, N_S2, N_SCI)
    spine = exp["oa_dois"] | exp["s2_dois"] | exp["sci_dois"]
    rw = {f"10.1/x.{i * 50 % 5000}" for i in range(500)}
    pwc = {f"10.1/x.{i * 31 % 4000}" for i in range(400)}
    got = unified_scale.agg(
        F.sum(F.col("has_retraction").cast("long")).alias("rw"),
        F.sum(F.col("has_pwc").cast("long")).alias("pwc"),
    ).first()
    assert got["rw"] == len(spine & rw)
    assert got["pwc"] == len(spine & pwc)


def test_disruption_junk_tolerated(unified_scale):
    """try_cast keeps the pipeline alive through 'inf' junk and yields
    parseable doubles elsewhere."""
    n_disr = unified_scale.filter(F.col("disruption").isNotNull()).count()
    assert n_disr > 0


def test_plan_properties(spark):
    """Dims broadcast; no cartesian anywhere in the 6-way fan-in."""
    df = build_unified_papers(
        synth_openalex(spark, 1000),
        synth_s2ag(spark, 1000),
        synth_sciscinet(spark, 1000),
        retractions=synth_retractions(spark, 50),
        code_links=synth_code_links(spark, 50),
    )
    plan = plans.physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan  # rw + pwc dims
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_coverage_upset_totals(unified_scale):
    exp = expected_unified(N_OA, N_S2, N_SCI)
    cells = coverage_upset(unified_scale)
    assert cells.agg(F.sum("n")).first()[0] == exp["rows"]
