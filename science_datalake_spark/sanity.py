"""Automated sanity suite — the port of the reference's end-to-end
validation checks over the unified table (notebooks/sanity_checks.ipynb;
technical_validation.tex:8-30). Golden counts are asserted by the
callers that know them (the pipeline tests, perfbench's lake_update).

Each check returns (name, passed, detail). All checks are declarative
Spark aggregations — they run unchanged at 100 TB (counts/aggregations
only, nothing collects row-level data to the driver).

Each check over the unified table alone is written once, as a spec
(aggregates + verdict): ``check_*`` runs one spec, ``run_core`` runs all
six in ONE action, with the same names, rules and detail strings.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F


@dataclass
class CheckResult:
    name: str
    passed: bool
    detail: str

    def __str__(self) -> str:
        return f"[{'PASS' if self.passed else 'FAIL'}] {self.name}: {self.detail}"


class _Spec(NamedTuple):
    """Aggregates (aliased uniquely per check) + the verdict over the
    aggregated row. Spec builders own the threshold defaults.

    ``own_agg``: a DISTINCT aggregate makes Spark pre-merge the other
    aggregates of its ``agg`` per distinct key, reordering corr's float
    sums (last digits then differ from the stand-alone check), so such a
    spec gets its own aggregate, cross-joined into the same action."""

    exprs: list[Column]
    verdict: Callable[[Row], CheckResult]
    own_agg: bool = False


def _run(df: DataFrame, *specs: _Spec) -> list[CheckResult]:
    """Every spec's aggregates in one action."""
    aggs = [df.agg(*s.exprs) for s in specs if s.own_agg]
    shared = [e for s in specs if not s.own_agg for e in s.exprs]
    if shared:
        aggs.append(df.agg(*shared))
    row = reduce(DataFrame.crossJoin, aggs).first()
    return [s.verdict(row) for s in specs]


def _count_if(cond: Column, alias: str) -> Column:
    return F.count(F.when(cond, 1)).alias(alias)


def _doi_format() -> _Spec:
    bad = F.col("doi").like("http%") | (F.col("doi") != F.lower(F.col("doi")))
    return _Spec([_count_if(bad, "doi_bad")], lambda r: CheckResult(
        "doi_format", r["doi_bad"] == 0, f"{r['doi_bad']} malformed DOIs"))


def check_doi_format(unified: DataFrame) -> CheckResult:
    """#1: no http-prefixed or uppercase DOIs survive normalization."""
    return _run(unified, _doi_format())[0]


def _flags() -> _Spec:
    mismatch = (
        (F.col("has_openalex") != F.col("openalex_id").isNotNull())
        | (F.col("has_s2ag") != F.col("corpusid").isNotNull())
        | (F.col("has_sciscinet") != F.col("sci_paperid").isNotNull())
    )
    return _Spec([_count_if(mismatch, "flag_bad")], lambda r: CheckResult(
        "flags_nullness", r["flag_bad"] == 0, f"{r['flag_bad']} flag mismatches"))


def check_flags_match_nullness(unified: DataFrame) -> CheckResult:
    """#2: coverage flags ≡ column nullness."""
    return _run(unified, _flags())[0]


def _pk_unique(key: str = "doi") -> _Spec:
    exprs = [F.count("*").alias("pk_n"), F.countDistinct(key).alias("pk_nd")]
    return _Spec(exprs, lambda r: CheckResult(
        "pk_unique", r["pk_n"] == r["pk_nd"], f"{r['pk_n']} rows / {r['pk_nd']} distinct"
    ), own_agg=True)


def check_pk_unique(unified: DataFrame, **opts) -> CheckResult:
    """#3: COUNT(*) == COUNT(DISTINCT doi) (``key=`` another column)."""
    return _run(unified, _pk_unique(**opts))[0]


def _citation_corr(min_corr: float = 0.8, min_pairs_ok: int = 2) -> _Spec:
    def verdict(r: Row) -> CheckResult:
        vals = [r["corr_a"], r["corr_b"], r["corr_c"]]
        ok = sum(1 for v in vals if v is not None and v > min_corr)
        return CheckResult(
            "citation_corr", ok >= min_pairs_ok, f"{ok}/3 pairs > {min_corr} ({vals})"
        )

    return _Spec([
        F.corr("oa_cited_by_count", "s2_citationcount").alias("corr_a"),
        F.corr("oa_cited_by_count", "sci_citation_count").alias("corr_b"),
        F.corr("s2_citationcount", "sci_citation_count").alias("corr_c"),
    ], verdict)


def check_citation_corr(unified: DataFrame, **thresholds) -> CheckResult:
    """#7: ≥2 of 3 pairwise citation-count correlations above 0.8."""
    return _run(unified, _citation_corr(**thresholds))[0]


def _year_distribution(lo: int = 1500, hi: int = 2026, max_bad: float = 0.01) -> _Spec:
    def verdict(r: Row) -> CheckResult:
        n, null, oob = max(r["year_n"], 1), r["year_null"], r["year_oob"]
        ok = null / n < max_bad and oob / n < max_bad
        return CheckResult("year_distribution", ok, f"null {null}/{n}, oob {oob}/{n}")

    return _Spec([
        F.count("*").alias("year_n"),
        _count_if(F.col("year").isNull(), "year_null"),
        _count_if((F.col("year") < lo) | (F.col("year") > hi), "year_oob"),
    ], verdict)


def check_year_distribution(unified: DataFrame, **thresholds) -> CheckResult:
    """#8: NULL year < 1%, out-of-range year < 1%."""
    return _run(unified, _year_distribution(**thresholds))[0]


def check_known_entity(unified: DataFrame, doi: str, expect_retracted: bool = True) -> CheckResult:
    """#9: known-row spot check (the Wakefield-1998 analogue)."""
    row = unified.filter(F.col("doi") == doi).select("has_retraction").first()
    found = row is not None and row["has_retraction"] == expect_retracted
    return CheckResult("known_entity", found, f"doi={doi} retraction flag ok={found}")


def _retraction_rate(max_rate: float = 0.01) -> _Spec:
    def verdict(r: Row) -> CheckResult:
        rate = r["rw_r"] / max(r["rw_n"], 1)
        return CheckResult("retraction_rate", rate < max_rate, f"{rate:.2%}")

    return _Spec(
        [F.count("*").alias("rw_n"), _count_if(F.col("has_retraction"), "rw_r")], verdict
    )


def check_retraction_rate(unified: DataFrame, **thresholds) -> CheckResult:
    """#9b: retraction rate sanity (<1%)."""
    return _run(unified, _retraction_rate(**thresholds))[0]


def run_core(unified: DataFrame) -> list[CheckResult]:
    """The six checks that need only the unified table, in one action:
    results equal calling each ``check_*`` in turn."""
    specs = (_doi_format, _flags, _pk_unique, _citation_corr, _year_distribution, _retraction_rate)
    return _run(unified, *(spec() for spec in specs))
