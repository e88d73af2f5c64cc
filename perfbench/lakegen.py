"""Seeded NDJSON sources for the ``lake_update`` workload.

One snapshot of three scholarly sources (openalex, s2ag, sciscinet) in the
raw shapes ``unify.build_unified_papers`` reads, cut into equal-size files:
``BASE_FILES`` files form the initial lake, every further file is one
incremental delta. Each file covers its own range of papers, and every
paper is written with the same DOI to each source that carries it, so the
unified table grows by that range's distinct DOIs on each update.

The sources are built to pass ``sanity.run_core``: a paper's citation count
is one base value plus a small per-source offset, so the three pairwise
correlations are all near 1; every paper is in openalex or s2ag, so the
unified year is never NULL; DOIs come in bare, resolver-prefixed and
upper-case spellings that ``clean_doi`` maps to one lower-case key.

``golden_unified_rows`` mirrors the unified row count in plain Python.
"""

from __future__ import annotations

import json
import os

import numpy as np

SOURCES = ("openalex", "s2ag", "sciscinet")
BASE_FILES = 2


def _doi(p: int) -> str:
    return f"10.{1000 + p % 97}/lake.{p}"


def _spell(doi: str, k: int) -> str:
    return (doi, f"https://doi.org/{doi}", f"HTTPS://DOI.ORG/{doi.upper()}")[k]


def _clean(raw: str | None) -> str | None:
    """Python mirror of ``functions.clean_doi`` plus the length filter."""
    if raw is None or raw == "":
        return None
    low = raw.lower()
    cut = low.split("doi.org/", 1)
    key = cut[1] if len(cut) == 2 and cut[1] else low
    return key if len(key) >= 5 else None


def file_rows(seed: int, index: int, papers: int) -> dict[str, list[dict]]:
    """The rows of file ``index`` (papers ``[index*papers, (index+1)*papers)``)
    for every source."""
    rng = np.random.Generator(np.random.PCG64([seed, index]))
    first = index * papers
    base = rng.lognormal(2.5, 1.2, papers).astype(np.int64)
    years = rng.integers(1960, 2025, papers)
    in_oa = rng.random(papers) < 0.9
    in_s2 = ~in_oa | (rng.random(papers) < 0.8)
    in_sci = rng.random(papers) < 0.75
    spelling = rng.integers(0, 3, (3, papers))
    noise = rng.integers(0, 3, (3, papers))
    dup = rng.random((3, papers)) < 0.05
    out: dict[str, list[dict]] = {s: [] for s in SOURCES}
    for i in range(papers):
        p = first + i
        doi = _doi(p)
        c = int(base[i])
        for copy in range(2 if dup[0, i] else 1):
            if in_oa[i]:
                out["openalex"].append(
                    {
                        "id": f"https://openalex.org/W{p}{copy}",
                        "doi": _spell(doi, spelling[0, i]),
                        "title": f"Lake paper {p}",
                        "publication_year": int(years[i]),
                        "cited_by_count": c + int(noise[0, i]) - copy,
                        "is_retracted": False,
                    }
                )
        for copy in range(2 if dup[1, i] else 1):
            if in_s2[i]:
                out["s2ag"].append(
                    {
                        "corpusid": p * 10 + copy,
                        "externalids": {"DOI": _spell(doi, spelling[1, i])},
                        "title": f"Lake paper {p}",
                        "year": int(years[i]),
                        "citationcount": c + int(noise[1, i]) - copy,
                    }
                )
        if in_sci[i]:
            out["sciscinet"].append(
                {
                    "paperid": f"W{p:09d}",
                    "doi": _spell(doi, spelling[2, i]),
                    "citation_count": c + int(noise[2, i]),
                    "disruption": "inf" if p % 11 == 0 else str(round(float(rng.uniform(-1, 1)), 4)),
                }
            )
    # rows the junk-DOI filter must drop before unification
    for s, key in (("openalex", "doi"), ("sciscinet", "doi")):
        for j in range(max(1, papers // 50)):
            row = dict(out[s][j % len(out[s])])
            row[key] = None if j % 2 else "bad"
            out[s].append(row)
    return out


def write_sources(seed: int, files: int, papers: int, out_dir: str) -> None:
    """``<out_dir>/<source>/part-<i>.jsonl`` for ``i < files``."""
    for s in SOURCES:
        os.makedirs(os.path.join(out_dir, s), exist_ok=True)
    for index in range(files):
        rows = file_rows(seed, index, papers)
        for s in SOURCES:
            with open(os.path.join(out_dir, s, f"part-{index:04d}.jsonl"), "w") as f:
                for r in rows[s]:
                    f.write(json.dumps(r) + "\n")


def golden_unified_rows(seed: int, files: int, papers: int) -> list[int]:
    """Unified row count after ingesting files ``[0, k]``, for every ``k``."""
    keys: set[str] = set()
    out = []
    for index in range(files):
        rows = file_rows(seed, index, papers)
        for r in rows["openalex"] + rows["sciscinet"]:
            if (key := _clean(r["doi"])) is not None:
                keys.add(key)
        for r in rows["s2ag"]:
            if (key := _clean(r["externalids"]["DOI"])) is not None:
                keys.add(key)
        out.append(len(keys))
    return out
