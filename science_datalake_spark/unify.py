"""Multi-source unification: the engine's flagship materialization.

Re-expresses the reference's ``materialize_unified_papers.py`` as one
declarative DataFrame job:

1. per-source DOI normalization + junk filter (``:80-124``)
2. per-source dedup — top-1 per DOI by citation priority (``:126-264``)
3. fan-in of the three sources on DOI (``:266-407``)
4. COALESCE source-preference columns + coverage flags (``:348-396``)

Scale design (the reference does this at 293M output rows / 588M inputs):
- null/short DOIs filtered BEFORE the dedup (kills the null-key skew
  bucket; reference line :116).
- steps 2 and 3 are ONE shuffle: the keyed sources union into one tall
  relation and a single ``groupBy(doi)`` takes each source's top-1 row
  with an argmin aggregate (map-side partial ``min_by``) — no per-source
  window sort, no spine distinct, no fan-in joins.
- small sources (retractions ~60K, code links ~141K) broadcast.
- deterministic tie-breaks (unique id in every dedup order) so golden
  counts reproduce under any parallelism (SURVEY §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from science_datalake_spark.functions import clean_doi


def _keyed(df: DataFrame, doi_col: str) -> DataFrame:
    """Normalize + filter the DOI key (junk/null rows never reach the dedup).

    Filter order matters for CPU, not just semantics: a filter on the
    CLEANED column gets the whole clean_doi expression inlined per
    condition by predicate pushdown (nullif/coalesce double the regexp
    already — measured ~4 evaluations per row, the dominant cost of
    source prep). clean_doi(x) is NULL iff x is NULL and '' iff x is ''
    (the doi.org/ fallback returns the raw string otherwise), so the
    null/empty legs of is_valid_doi move to the RAW column before
    cleaning, leaving one residual length check on the cleaned value —
    two evaluations instead of four, identical output."""
    raw = F.col(doi_col)
    return (
        df.filter(raw.isNotNull() & (raw != ""))
        .withColumn("doi", clean_doi(raw))
        .filter(F.length("doi") >= 5)
    )


def _openalex_keyed(works: DataFrame) -> DataFrame:
    """OpenAlex-shaped input: url-prefixed ids, https-prefixed DOIs."""
    return _keyed(
        works.select(
            F.col("id").alias("openalex_id"),
            F.col("doi").alias("raw_doi"),
            F.col("title").alias("oa_title"),
            F.col("publication_year").alias("oa_year"),
            F.col("cited_by_count").alias("oa_cited_by_count"),
            F.col("is_retracted").alias("oa_is_retracted"),
        ),
        "raw_doi",
    ).drop("raw_doi")


def _s2ag_keyed(papers: DataFrame) -> DataFrame:
    """S2AG-shaped input: corpusid PK, DOI nested at externalids.DOI
    (struct projection P1, create_unified_db.py:81-90)."""
    return _keyed(
        papers.select(
            F.col("corpusid"),
            F.col("externalids.DOI").alias("raw_doi"),
            F.col("title").alias("s2_title"),
            F.col("year").alias("s2_year"),
            F.col("citationcount").alias("s2_citationcount"),
        ),
        "raw_doi",
    ).drop("raw_doi")


def _sciscinet_keyed(metrics: DataFrame) -> DataFrame:
    """SciSciNet-shaped input: bare W-ids, https-prefixed DOIs, metrics."""
    return _keyed(
        metrics.select(
            F.col("paperid").alias("sci_paperid"),
            F.col("doi").alias("raw_doi"),
            F.col("citation_count").alias("sci_citation_count"),
            # tolerant cast: the raw column carries junk like 'inf'
            # (reference models it as DOUBLE, materialize_unified_papers.py:337)
            F.expr("try_cast(disruption AS DOUBLE)").alias("disruption"),
        ),
        "raw_doi",
    ).drop("raw_doi")


def build_unified_papers(
    oa: DataFrame,
    s2: DataFrame,
    sci: DataFrame,
    retractions: DataFrame | None = None,
    code_links: DataFrame | None = None,
) -> DataFrame:
    """The 6-way DOI fan-in with coverage flags, in ONE shuffle.

    The three keyed sources union into one tall relation tagged by
    source, and a single ``groupBy(doi)`` computes each source's
    top-1-by-citation row (``desc_nulls_last(citation), asc(id)``) as
    ``min_by(struct(cols), order_key)``. ``order_key`` encodes that order
    as an ascending struct ``(null_flag, nan_flag, -citation_as_double,
    id)`` — see ``_ord`` for why each field exists; rows from other
    sources carry a NULL order key, which min_by ignores, so a DOI absent
    from a source gets a NULL struct exactly like a left join would.

    ``retractions`` needs a ``original_paper_doi`` column; ``code_links``
    a ``doi`` column. Both are treated as broadcast-sized dims.

    Scale: each source is scanned once and shuffled ONCE on doi. The
    reference-shaped plan (window top-1 per source, distinct spine, three
    fan-in joins) gives the same rows and was 3x slower at 2M OpenAlex
    rows (BENCH_NOTES.md); tests/test_unify.py keeps it as the equality
    reference.
    """
    def _ord(cite: str, ident: str) -> F.Column:
        # encodes desc_nulls_last(citation), asc(id) as an ASCENDING
        # struct: a null flag first (nulls rank last, no sentinel value a
        # real citation could collide with), then a NaN class flag (a
        # desc sort order ranks NaN strictly ABOVE +inf, and no
        # double can sort below -inf, so NaN gets its own leading field
        # instead of a -inf sentinel that +inf citations would tie with),
        # then the NEGATED citation as DOUBLE — double, not long: a long
        # cast truncates fractional citation metrics and would pick the
        # wrong top-1 row (doubles are exact for integer citations < 2^53,
        # far beyond any real citation count). The id keeps its NATIVE
        # type — casting a numeric id to string would order "10" before
        # "9" and silently diverge from asc(id).
        cd = F.col(cite).cast("double")
        return F.struct(
            F.when(F.col(cite).isNull(), 1).otherwise(0).alias("n"),
            F.when(F.isnan(cd), 0).otherwise(1).alias("nanc"),
            F.when(F.isnan(cd), F.lit(0.0)).otherwise(-cd).alias("c"),
            F.col(ident).alias("i"),
        )

    # Each source's half carries its columns in their NATIVE types; the
    # union pads every frame's missing columns as typed NULLs derived from
    # the owning frame's actual schema, so no hardcoded cast can diverge
    # from the source column types.
    oa_t = _openalex_keyed(oa).select(
        "doi",
        F.struct(
            "openalex_id", "oa_title", "oa_year", "oa_cited_by_count", "oa_is_retracted"
        ).alias("oa_row"),
        _ord("oa_cited_by_count", "openalex_id").alias("oa_ord"),
    )
    s2_t = _s2ag_keyed(s2).select(
        "doi",
        F.struct("corpusid", "s2_title", "s2_year", "s2_citationcount").alias("s2_row"),
        _ord("s2_citationcount", "corpusid").alias("s2_ord"),
    )
    sci_t = _sciscinet_keyed(sci).select(
        "doi",
        F.struct("sci_paperid", "sci_citation_count", "disruption").alias("sci_row"),
        _ord("sci_citation_count", "sci_paperid").alias("sci_ord"),
    )
    halves = [oa_t, s2_t, sci_t]
    col_types = {
        f.name: f.dataType
        for h in halves
        for f in h.schema.fields
        if f.name != "doi"
    }
    padded = [
        h.select(
            "doi",
            *[
                F.col(n) if n in h.columns else F.lit(None).cast(t).alias(n)
                for n, t in col_types.items()
            ],
        )
        for h in halves
    ]
    tall = padded[0].unionByName(padded[1]).unionByName(padded[2])
    unified = tall.groupBy("doi").agg(
        F.min_by("oa_row", "oa_ord").alias("oa"),
        F.min_by("s2_row", "s2_ord").alias("s2"),
        F.min_by("sci_row", "sci_ord").alias("sci"),
    )

    if retractions is not None:
        rw = (
            _keyed(retractions, "original_paper_doi")
            .select("doi")
            .distinct()
            .withColumn("rw_hit", F.lit(True))
        )
        unified = unified.join(F.broadcast(rw), "doi", "left")
    else:
        unified = unified.withColumn("rw_hit", F.lit(None).cast("boolean"))

    if code_links is not None:
        pwc = (
            _keyed(code_links, "doi")
            .select("doi")
            .distinct()
            .withColumn("pwc_hit", F.lit(True))
        )
        unified = unified.join(F.broadcast(pwc), "doi", "left")
    else:
        unified = unified.withColumn("pwc_hit", F.lit(None).cast("boolean"))

    return unified.select(
        "doi",
        F.coalesce("oa.oa_title", "s2.s2_title").alias("title"),
        F.coalesce("oa.oa_year", "s2.s2_year").alias("year"),
        F.col("oa.openalex_id").alias("openalex_id"),
        F.col("s2.corpusid").alias("corpusid"),
        F.col("sci.sci_paperid").alias("sci_paperid"),
        F.col("oa.oa_cited_by_count").alias("oa_cited_by_count"),
        F.col("s2.s2_citationcount").alias("s2_citationcount"),
        F.col("sci.sci_citation_count").alias("sci_citation_count"),
        F.col("sci.disruption").alias("disruption"),
        F.col("oa.openalex_id").isNotNull().alias("has_openalex"),
        F.col("s2.corpusid").isNotNull().alias("has_s2ag"),
        F.col("sci.sci_paperid").isNotNull().alias("has_sciscinet"),
        F.coalesce(F.col("pwc_hit"), F.lit(False)).alias("has_pwc"),
        F.coalesce(F.col("rw_hit"), F.lit(False)).alias("has_retraction"),
        (
            F.coalesce("oa.oa_is_retracted", F.lit(False))
            | F.coalesce(F.col("rw_hit"), F.lit(False))
        ).alias("is_retracted"),
    )


def coverage_upset(unified: DataFrame) -> DataFrame:
    """2^k coverage-combination counts (materialize_unified_papers.py:502-509)."""
    flags = ["has_openalex", "has_s2ag", "has_sciscinet", "has_pwc", "has_retraction"]
    return unified.groupBy(*flags).agg(F.count("*").alias("n")).orderBy(*flags)
