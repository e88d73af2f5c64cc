"""Driver query for the flagship unification materialization.

``build_unified_papers`` (unify.py) is the engine's re-expression of the
reference's defining job (materialize_unified_papers.py: per-source DOI
normalization → top-1-per-DOI dedup → 6-way DOI fan-in → coverage flags;
here one groupBy-argmin shuffle does dedup and fan-in). The testdata has
no paper tables, so the three source shapes are synthesized
DETERMINISTICALLY from the TPC-H tables over a shared DOI key domain
(overlapping moduli → every coverage combination occurs, duplicate keys
→ the dedup does real work, a NULL/short-DOI band → the junk filter does
real work), and the DuckDB oracle replays the identical pipeline
relationally: synth → regex clean → validity filter → row_number dedup →
spine → joins → 2^5 coverage UpSet.

Dialect notes (memory'd gotchas): DOUBLE→BIGINT casts round in DuckDB but
truncate in Spark, so citation counts go through an explicit floor() on
both sides; every dedup order carries a unique id tiebreak.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from science_datalake_spark.cache import cached
from science_datalake_spark.catalog import table
from science_datalake_spark.functions import synth_doi
from science_datalake_spark.queries import query
from science_datalake_spark.sources.sinks import table_signature
from science_datalake_spark.unify import build_unified_papers, coverage_upset

#: Shared DOI key domains: oa 0..599, s2 0..399, sci 100..599 — pairwise
#: overlaps and per-source exclusives, so all flag combinations appear.
_OA_MOD, _S2_MOD, _SCI_MOD, _SCI_OFF = 600, 400, 500, 100


def _synth_sql(key_expr: str) -> str:
    """DuckDB twin of functions.synth_doi(key, 'p')."""
    k = key_expr
    return f"""CASE ({k}) % 4
        WHEN 0 THEN '10.' || CAST(1000 + ({k}) AS VARCHAR) || '/j.p'
        WHEN 1 THEN 'https://doi.org/10.' || CAST(1000 + ({k}) AS VARCHAR) || '/xp'
        WHEN 2 THEN 'HTTPS://DOI.ORG/10.' || CAST(1000 + ({k}) AS VARCHAR) || '/Yp'
        ELSE 'doi.org/10.' || CAST(1000 + ({k}) AS VARCHAR) || '/z'
    END"""


_CLEAN = (
    "lower(coalesce(nullif(regexp_extract(lower({d}), 'doi\\.org/(.+)$', 1), ''), {d}))"
)
_VALID = "{d} IS NOT NULL AND {d} != '' AND length({d}) >= 5"


def _unify_ctes() -> str:
    """Shared oracle CTE block: synth sources → clean → dedup → spine →
    unified (flags + the metric columns the vignette queries read).
    ``_unify_oracle`` and the vignette oracles append different final
    SELECTs."""
    return f"""
    WITH oa_raw AS (
        SELECT 'W' || CAST(o_orderkey AS VARCHAR) AS openalex_id,
               CASE WHEN o_orderkey % 31 = 0 THEN NULL
                    ELSE {_synth_sql(f"o_orderkey % {_OA_MOD}")} END AS raw_doi,
               year(o_orderdate) AS oa_year,
               CAST(floor(o_totalprice) AS BIGINT) AS oa_cited_by_count,
               (o_orderstatus = 'F') AS oa_is_retracted
        FROM orders
    ),
    oa_keyed AS (
        SELECT *, {_CLEAN.format(d='raw_doi')} AS doi FROM oa_raw
    ),
    oa AS (
        SELECT doi, openalex_id, oa_year, oa_cited_by_count, oa_is_retracted FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doi
                ORDER BY oa_cited_by_count DESC NULLS LAST, openalex_id
            ) AS rn
            FROM oa_keyed WHERE {_VALID.format(d='doi')}
        ) WHERE rn = 1
    ),
    s2_raw AS (
        SELECT c_custkey AS corpusid,
               CASE WHEN c_custkey % 41 = 0 THEN 'x'
                    ELSE {_synth_sql(f"c_custkey % {_S2_MOD}")} END AS raw_doi,
               1990 + c_custkey % 30 AS s2_year,
               CAST(floor(c_acctbal) AS BIGINT) AS s2_citationcount
        FROM customer
    ),
    s2_keyed AS (
        SELECT *, {_CLEAN.format(d='raw_doi')} AS doi FROM s2_raw
    ),
    s2 AS (
        SELECT doi, corpusid, s2_year, s2_citationcount FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doi
                ORDER BY s2_citationcount DESC NULLS LAST, corpusid
            ) AS rn
            FROM s2_keyed WHERE {_VALID.format(d='doi')}
        ) WHERE rn = 1
    ),
    sci_raw AS (
        SELECT 'P' || CAST(p_partkey AS VARCHAR) AS sci_paperid,
               {_synth_sql(f"p_partkey % {_SCI_MOD} + {_SCI_OFF}")} AS raw_doi,
               CAST(p_size AS BIGINT) AS sci_citation_count,
               CAST(p_retailprice AS VARCHAR) AS disruption
        FROM part
    ),
    sci_keyed AS (
        SELECT *, {_CLEAN.format(d='raw_doi')} AS doi FROM sci_raw
    ),
    sci AS (
        SELECT doi, sci_paperid, sci_citation_count, disruption FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doi
                ORDER BY sci_citation_count DESC NULLS LAST, sci_paperid
            ) AS rn
            FROM sci_keyed WHERE {_VALID.format(d='doi')}
        ) WHERE rn = 1
    ),
    rw AS (
        SELECT DISTINCT {_CLEAN.format(d='raw_doi')} AS doi FROM (
            SELECT {_synth_sql('n_nationkey * 20')} AS raw_doi FROM nation
        )
    ),
    pwc AS (
        SELECT DISTINCT {_CLEAN.format(d='raw_doi')} AS doi FROM (
            SELECT {_synth_sql(f"(s_suppkey * 7) % {_OA_MOD}")} AS raw_doi
            FROM supplier
        )
    ),
    spine AS (
        SELECT doi FROM oa UNION SELECT doi FROM s2 UNION SELECT doi FROM sci
    ),
    unified AS (
        SELECT sp.doi,
               oa.openalex_id,
               coalesce(oa.oa_year, s2.s2_year) AS year,
               oa.oa_cited_by_count,
               s2.s2_citationcount,
               sci.sci_citation_count,
               try_cast(sci.disruption AS DOUBLE) AS disruption,
               oa.openalex_id IS NOT NULL   AS has_openalex,
               s2.corpusid IS NOT NULL      AS has_s2ag,
               sci.sci_paperid IS NOT NULL  AS has_sciscinet,
               pwc.doi IS NOT NULL          AS has_pwc,
               rw.doi IS NOT NULL           AS has_retraction
        FROM spine sp
        LEFT JOIN oa  ON oa.doi  = sp.doi
        LEFT JOIN s2  ON s2.doi  = sp.doi
        LEFT JOIN sci ON sci.doi = sp.doi
        LEFT JOIN pwc ON pwc.doi = sp.doi
        LEFT JOIN rw  ON rw.doi  = sp.doi
    )
    """


def _unify_oracle() -> str:
    return (
        _unify_ctes()
        + """
    SELECT has_openalex, has_s2ag, has_sciscinet, has_pwc, has_retraction,
           count(*) AS n
    FROM unified
    GROUP BY 1, 2, 3, 4, 5
    ORDER BY 1, 2, 3, 4, 5
    """
    )


#: Source tables of the unified spine. The spine is built once per
#: session (the reference writes the table and every vignette queries it,
#: materialize_unified_papers.py:402-429; rebuilding the 6-way pipeline
#: per query made this the one family whose sf0.1→sf1 ratio ROSE, round-7
#: verdict #2) as a persisted frame in the session-cache registry, checked
#: against these tables' file signatures. It is tiny (one row per
#: distinct DOI): the saving is the BUILD, not the storage.
_UNIFIED_SOURCES = ("orders", "customer", "part", "supplier", "nation")


def _synth_unified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic unified-papers table (shared by unify_coverage and
    the vignette queries — one construction, one oracle CTE block),
    materialized once per (session, sf_dir, source file versions)."""
    signature = tuple(
        table_signature(os.path.join(sf_dir, f"{t}.parquet")) for t in _UNIFIED_SOURCES
    )
    return cached(
        spark,
        "unify_q.synth_unified",
        (sf_dir,),
        signature,
        lambda: _build_synth_unified(spark, sf_dir).persist(),
        cap=4,
    )


def _build_synth_unified(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    p = table(spark, sf_dir, "part")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")

    oa = o.select(
        F.concat(F.lit("W"), F.col("o_orderkey").cast("string")).alias("id"),
        F.when(F.col("o_orderkey") % 31 == 0, F.lit(None).cast("string"))
        .otherwise(synth_doi(F.col("o_orderkey") % _OA_MOD, F.lit("p")))
        .alias("doi"),
        F.col("o_orderpriority").alias("title"),
        F.year("o_orderdate").alias("publication_year"),
        F.floor("o_totalprice").cast("long").alias("cited_by_count"),
        (F.col("o_orderstatus") == "F").alias("is_retracted"),
    )
    s2 = c.select(
        F.col("c_custkey").alias("corpusid"),
        F.struct(
            F.when(F.col("c_custkey") % 41 == 0, F.lit("x"))
            .otherwise(synth_doi(F.col("c_custkey") % _S2_MOD, F.lit("p")))
            .alias("DOI")
        ).alias("externalids"),
        F.col("c_name").alias("title"),
        (F.lit(1990) + F.col("c_custkey") % 30).alias("year"),
        F.floor("c_acctbal").cast("long").alias("citationcount"),
    )
    sci = p.select(
        F.concat(F.lit("P"), F.col("p_partkey").cast("string")).alias("paperid"),
        synth_doi(F.col("p_partkey") % _SCI_MOD + _SCI_OFF, F.lit("p")).alias("doi"),
        F.col("p_size").cast("long").alias("citation_count"),
        F.col("p_retailprice").cast("string").alias("disruption"),
    )
    rw = n.select(
        synth_doi(F.col("n_nationkey") * 20, F.lit("p")).alias("original_paper_doi")
    )
    pwc = s.select(
        synth_doi((F.col("s_suppkey") * 7) % _OA_MOD, F.lit("p")).alias("doi")
    )

    return build_unified_papers(oa, s2, sci, retractions=rw, code_links=pwc)


@query("unify_coverage", oracle=_unify_oracle())
def unify_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-flag UpSet of the flagship 6-way unification over synthetic
    source shapes derived from the testdata spine (see module docstring).
    Exercises the full materialization path end-to-end: clean_doi on three
    wild formats, the junk-DOI filter, the per-source top-1 argmin
    fan-in, broadcast existence dims, and the 2^5 rollup
    (materialize_unified_papers.py:502-509)."""
    return coverage_upset(_synth_unified(spark, sf_dir))


@query(
    "vignette_disruption_by_code",
    # rotated into the driver registry round 7 (never driver-proven)
    oracle=_unify_ctes()
    + """
    SELECT has_pwc,
           count(*) AS n_papers,
           CAST(round(avg(disruption), 4) AS DOUBLE) AS avg_disruption,
           CAST(round(quantile_cont(disruption, 0.5), 4) AS DOUBLE)
               AS median_disruption,
           CAST(round(avg(oa_cited_by_count), 1) AS DOUBLE) AS avg_citations
    FROM unified
    WHERE disruption IS NOT NULL
    GROUP BY has_pwc ORDER BY has_pwc
    """,
)
def vignette_disruption_by_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vignette 1 cell 2 (notebooks/vignette_1_disruption_vs_code.ipynb):
    disruption + citation profile of papers WITH vs WITHOUT code, over
    the synthetic unified table. Exact median is intentional here — the
    group count is 2 and DuckDB's quantile_cont is exact (the documented
    agg_stats_profile trade; operators/stats.py holds the scale-safe
    alternatives)."""
    u = _synth_unified(spark, sf_dir).filter(F.col("disruption").isNotNull())
    return (
        u.groupBy("has_pwc")
        .agg(
            F.count(F.lit(1)).alias("n_papers"),
            F.round(F.avg("disruption"), 4).alias("avg_disruption"),
            F.round(F.expr("percentile(disruption, 0.5)"), 4).alias(
                "median_disruption"
            ),
            F.round(F.avg("oa_cited_by_count"), 1).alias("avg_citations"),
        )
        .orderBy("has_pwc")
    )


@query(
    "vignette_code_rate_by_year",
    # rotated into the driver registry round 7 (never driver-proven)
    oracle=_unify_ctes()
    + """
    SELECT year,
           count(*) AS total_disruptive,
           CAST(sum(CASE WHEN has_pwc THEN 1 ELSE 0 END) AS BIGINT) AS with_code,
           CAST(round(100.0 * sum(CASE WHEN has_pwc THEN 1 ELSE 0 END)
                      / count(*), 3) AS DOUBLE) AS pct_with_code
    FROM unified
    WHERE disruption > 980 AND has_openalex
    GROUP BY year ORDER BY year
    """,
)
def vignette_code_rate_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vignette 1 cell 4: per-year volume of highly-disruptive papers and
    the fraction having code (the synthetic disruption domain is
    p_retailprice, uniform on [900, 1000), so the 'highly disruptive'
    threshold is its top decile (> 980) rather than the notebook's 0.5). Map-only filter into one hash aggregate."""
    u = _synth_unified(spark, sf_dir).filter(
        (F.col("disruption") > 980) & F.col("has_openalex")
    )
    pwc1 = F.sum(F.when(F.col("has_pwc"), 1).otherwise(0))
    return (
        u.groupBy("year")
        .agg(
            F.count(F.lit(1)).alias("total_disruptive"),
            pwc1.cast("long").alias("with_code"),
            F.round(100.0 * pwc1 / F.count(F.lit(1)), 3).alias("pct_with_code"),
        )
        .orderBy("year")
    )


@query(
    "vignette_citation_reliability",
    # rotated into the driver registry round 7 (never driver-proven)
    oracle=_unify_ctes()
    + """
    SELECT CAST(round(corr(s2_citationcount, oa_cited_by_count), 4) AS DOUBLE)
               AS s2_oa_corr,
           CAST(round(corr(s2_citationcount, sci_citation_count), 4) AS DOUBLE)
               AS s2_sci_corr,
           CAST(round(corr(oa_cited_by_count, sci_citation_count), 4) AS DOUBLE)
               AS oa_sci_corr,
           CAST(round(avg(abs(s2_citationcount - oa_cited_by_count)), 2) AS DOUBLE)
               AS avg_abs_diff_s2_oa,
           CAST(round(avg(abs(oa_cited_by_count - sci_citation_count)), 2) AS DOUBLE)
               AS avg_abs_diff_oa_sci,
           count(*) AS n_triple
    FROM unified
    WHERE has_s2ag AND has_openalex AND has_sciscinet
    """,
)
def vignette_citation_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vignette 4 cell 2 (notebooks/vignette_4_citation_reliability.ipynb):
    cross-source citation-count reliability over the triple-coverage
    subset of the unified spine — pairwise Pearson correlations and
    mean absolute disagreements between the three sources' counts. One
    map-side filter into a single global aggregate (all six statistics
    are algebraic/co-moment aggregates: one pass, mergeable partials)."""
    u = _synth_unified(spark, sf_dir).filter(
        F.col("has_s2ag") & F.col("has_openalex") & F.col("has_sciscinet")
    )
    return u.agg(
        F.round(F.corr("s2_citationcount", "oa_cited_by_count"), 4).alias(
            "s2_oa_corr"
        ),
        F.round(F.corr("s2_citationcount", "sci_citation_count"), 4).alias(
            "s2_sci_corr"
        ),
        F.round(F.corr("oa_cited_by_count", "sci_citation_count"), 4).alias(
            "oa_sci_corr"
        ),
        F.round(F.avg(F.abs(F.col("s2_citationcount") - F.col("oa_cited_by_count"))), 2)
        .alias("avg_abs_diff_s2_oa"),
        F.round(
            F.avg(F.abs(F.col("oa_cited_by_count") - F.col("sci_citation_count"))), 2
        ).alias("avg_abs_diff_oa_sci"),
        F.count(F.lit(1)).alias("n_triple"),
    )


@query(
    "vignette_topic_patent_rollup",
    # rotated into the driver registry round 7 (never driver-proven)
    oracle=_unify_ctes()
    + """
    , works_topics AS (
        SELECT 'W' || CAST(l_orderkey AS VARCHAR) AS work_id,
               l_partkey % 40 AS topic_id,
               round((l_suppkey % 100) / 100.0, 2) AS score
        FROM lineitem
    ),
    topic_map AS (
        SELECT DISTINCT l_partkey % 40 AS topic_id,
               'term_' || CAST((l_partkey % 40) % 12 AS VARCHAR) AS term,
               CASE (l_partkey % 40) % 3 WHEN 0 THEN 'mesh'
                    WHEN 1 THEN 'physh' ELSE 'agrovoc' END AS ontology,
               0.8 + ((l_partkey % 40) % 5) / 20.0 AS similarity
        FROM lineitem
    ),
    topic_stats AS (
        SELECT wt.topic_id,
               count(*) AS n_papers,
               sum(CASE WHEN u.has_pwc THEN 1 ELSE 0 END) AS n_with_code
        FROM unified u
        JOIN works_topics wt ON wt.work_id = u.openalex_id
        WHERE u.openalex_id IS NOT NULL AND wt.score >= 0.5
        GROUP BY wt.topic_id
    )
    SELECT m.term, m.ontology,
           CAST(sum(ts.n_papers) AS BIGINT) AS total_papers,
           CAST(sum(ts.n_with_code) AS BIGINT) AS with_code,
           CAST(round(100.0 * sum(ts.n_with_code) / sum(ts.n_papers), 2)
                AS DOUBLE) AS code_rate_pct
    FROM topic_map m
    JOIN topic_stats ts ON ts.topic_id = m.topic_id
    WHERE m.similarity >= 0.85
    GROUP BY m.term, m.ontology
    HAVING sum(ts.n_papers) >= 100
    ORDER BY code_rate_pct DESC, term, ontology
    LIMIT 20
    """,
)
def vignette_topic_patent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vignette 1 cell 8 / vignette 3 cell 6: the two-level HAVING-gated
    ontology rollup — per-topic paper/code counts from a unified ⨝
    works_topics join (score-thresholded), then rolled up to ontology
    terms through a similarity-thresholded topic→term map, HAVING-gated
    and top-20 by code rate. works_topics is synthesized from lineitem
    (work_id matches the unified openalex_id domain); the topic map is a
    40-row broadcast dim. Shuffles: one hash aggregate on topic_id after
    the work_id join; the term rollup runs on 40 rows."""
    u = _synth_unified(spark, sf_dir)
    li = table(spark, sf_dir, "lineitem")
    wt = li.select(
        F.concat(F.lit("W"), F.col("l_orderkey").cast("string")).alias("work_id"),
        (F.col("l_partkey") % 40).alias("topic_id"),
        F.round((F.col("l_suppkey") % 100) / 100.0, 2).alias("score"),
    ).filter(F.col("score") >= 0.5)
    tm = (
        li.select((F.col("l_partkey") % 40).alias("topic_id"))
        .distinct()
        .select(
            "topic_id",
            F.concat(F.lit("term_"), (F.col("topic_id") % 12).cast("string")).alias(
                "term"
            ),
            F.when(F.col("topic_id") % 3 == 0, "mesh")
            .when(F.col("topic_id") % 3 == 1, "physh")
            .otherwise("agrovoc")
            .alias("ontology"),
            (0.8 + (F.col("topic_id") % 5) / 20.0).alias("similarity"),
        )
        .filter(F.col("similarity") >= 0.85)
    )
    stats = (
        u.filter(F.col("openalex_id").isNotNull())
        .join(wt, wt["work_id"] == u["openalex_id"])
        .groupBy("topic_id")
        .agg(
            F.count(F.lit(1)).alias("n_papers"),
            F.sum(F.when(F.col("has_pwc"), 1).otherwise(0)).alias("n_with_code"),
        )
    )
    rolled = (
        stats.join(F.broadcast(tm), "topic_id")
        .groupBy("term", "ontology")
        .agg(
            F.sum("n_papers").cast("long").alias("total_papers"),
            F.sum("n_with_code").cast("long").alias("with_code"),
            F.round(100.0 * F.sum("n_with_code") / F.sum("n_papers"), 2).alias(
                "code_rate_pct"
            ),
        )
        .filter(F.col("total_papers") >= 100)
    )
    return rolled.orderBy(
        F.desc("code_rate_pct"), "term", "ontology"
    ).limit(20)


@query(
    "vignette_retraction_profile",
    aux=True,  # rested round 9 wave 3 (driver-green r7+r8; parity continues)
    oracle=_unify_ctes()
    + """
    SELECT CASE WHEN has_retraction THEN 'Retracted'
                ELSE 'Non-retracted' END AS group_label,
           count(*) AS n,
           CAST(round(avg(disruption), 3) AS DOUBLE) AS avg_disruption,
           CAST(round(avg(oa_cited_by_count), 1) AS DOUBLE) AS avg_citations,
           CAST(round(quantile_cont(oa_cited_by_count, 0.5), 1) AS DOUBLE)
               AS median_citations
    FROM unified
    WHERE disruption IS NOT NULL AND oa_cited_by_count IS NOT NULL
    GROUP BY 1 ORDER BY group_label
    """,
)
def vignette_retraction_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vignette 2 cell 2 (notebooks/vignette_2_anatomy_of_retractions
    .ipynb): retracted vs non-retracted disruption/citation profile over
    the synthetic unified table — the notebook's UNION-of-two-filtered-
    aggregates collapses to ONE hash aggregate on the flag (same rows,
    half the scans). Exact median is fine here: two groups (the
    agg_stats_profile trade; operators/stats.py holds the scale-safe
    alternatives)."""
    u = _synth_unified(spark, sf_dir).filter(
        F.col("disruption").isNotNull() & F.col("oa_cited_by_count").isNotNull()
    )
    return (
        u.groupBy(
            F.when(F.col("has_retraction"), "Retracted")
            .otherwise("Non-retracted")
            .alias("group_label")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            # 3 decimals, not 4: the sf0.01 population's true mean sits
            # EXACTLY on a 4-decimal rounding tie (…09375), where the two
            # engines' last-ulp summation difference flips the digit
            F.round(F.avg("disruption"), 3).alias("avg_disruption"),
            F.round(F.avg("oa_cited_by_count"), 1).alias("avg_citations"),
            F.round(
                F.expr("percentile(oa_cited_by_count, 0.5)"), 1
            ).alias("median_citations"),
        )
        .orderBy("group_label")
    )
