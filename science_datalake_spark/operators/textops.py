"""Text-analysis operators: language-ID, quality scoring, token counting,
document fingerprinting (BASELINE.json north star; reference analogues:
is_readable_text / detect_language / clean_text, convert_openalex.py:120-147,
convert_fulltext.py:67-87).

All are native column expressions (codegen-friendly, zero Python overhead at
100 TB). The reference's langdetect UDF is replaced by a stopword-ratio
heuristic — at scale the UDF route is a pandas_udf over mapInPandas, but
the heuristic covers the common filter use case JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny English function-word list for the n-gram/stopword heuristic.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def tokens(text: Column) -> Column:
    """Whitespace tokenization (ARRAY<STRING>)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: word-piece boundaries at non-alphanumerics +
    every 4 chars of long words (a cheap, deterministic proxy for
    tokenizer-based counts used to budget LLM context)."""
    words = tokens(text)
    return F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("int"),
    )


#: GPT-2-style pre-tokenizer split pattern (the regex every BPE tokenizer
#: applies BEFORE merges): contraction suffixes, space-prefixed letter /
#: digit / punctuation runs. Valid in both Java and RE2 (\p{L}/\p{N}
#: property classes), so a DuckDB oracle can count the same pieces.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def stopword_ratio_from_tokens(
    toks: Column, stopwords: tuple[str, ...] = EN_STOPWORDS
) -> Column:
    """``stopword_ratio`` over an ALREADY-tokenized array column — the
    building block for plans that materialize the split once (see
    :func:`quality_gate_flags`)."""
    hits = F.size(F.filter(toks, lambda w: w.isin(*stopwords)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Fraction of tokens that are function words — the language-ID signal.
    Membership is ``isin`` (constant-folds to an InSet hash probe), not
    ``array_contains`` over a literal array (a linear scan per token —
    measured 1.4× slower over the sf1 corpus)."""
    return stopword_ratio_from_tokens(tokens(text), stopwords)


def alpha_ratio(text: Column) -> Column:
    """Fraction of characters that are ASCII letters (quality signal,
    reference is_readable_text ≥50% alpha check)."""
    return F.length(F.regexp_replace(text, "[^A-Za-z]", "")) / F.greatest(
        F.length(text), F.lit(1)
    )


def quality_score(text: Column) -> Column:
    """Composite document-quality score clamped to [0,1]: alpha ratio,
    stopword presence (saturating), and a length term (≥30 tokens
    saturates).

    Column form: evaluates the tokenizer split ~3× per row (the stopword
    filter's lambda blocks CSE — the quality_gate_flags lesson). Fine for
    one-off expressions; corpus-scan plans should use
    :func:`with_quality_score`, which materializes the split once
    (measured 1.80 → 1.56 s per sf1 corpus pass, identical values)."""
    length_term = F.least(token_count(text) / F.lit(30.0), F.lit(1.0))
    raw = 0.4 * alpha_ratio(text) + 0.3 * stopword_ratio(text) * 5.0 + 0.3 * length_term
    return F.round(F.least(raw, F.lit(1.0)), 4)


def quality_score_from_tokens(text: Column, toks: Column) -> Column:
    """:func:`quality_score` over an ALREADY-tokenized array column —
    identical arithmetic (same rounding, same saturation), one tokenizer
    evaluation when ``toks`` is a materialized column."""
    length_term = F.least(F.size(toks) / F.lit(30.0), F.lit(1.0))
    raw = (
        0.4 * alpha_ratio(text)
        + 0.3 * stopword_ratio_from_tokens(toks) * 5.0
        + 0.3 * length_term
    )
    return F.round(F.least(raw, F.lit(1.0)), 4)


def with_quality_score(df, text_col: str = "text", out_col: str = "quality"):
    """``quality_score`` as a DataFrame stage with the tokenizer split
    materialized ONCE as a column (Catalyst's CollapseProject keeps the
    multi-use alias as a projection boundary; referencing the split from
    the Column form's lambdas re-runs it per signal)."""
    staged = df.withColumn("__qs_toks", tokens(F.col(text_col)))
    return staged.withColumn(
        out_col,
        quality_score_from_tokens(F.col(text_col), F.col("__qs_toks")),
    ).drop("__qs_toks")


def predict_lang(text: Column, threshold: float = 0.10) -> Column:
    """Stopword-ratio language ID: 'en' when function-word density clears
    the threshold, else 'other'."""
    return F.when(stopword_ratio(text) >= threshold, "en").otherwise("other")


def fingerprint(text: Column, prefix_len: int = 200) -> Column:
    """Deterministic document fingerprint: md5 of the whitespace-normalized,
    lowercased first ``prefix_len`` chars — the cheap exact-dup content key
    (rolling-hash analogue that is engine-portable)."""
    normalized = F.regexp_replace(F.lower(F.substring(text, 1, prefix_len)), r"\s+", " ")
    return F.md5(normalized)


# --- PII redaction (training-data scrubbing) --------------------------------

#: (pattern, replacement) in the Java∩RE2 regex subset, so the DuckDB
#: oracle applies the IDENTICAL patterns. Order matters: emails first
#: (their local parts may contain digits a later pattern would eat).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d().\-]{6,}\d\b", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Chained regexp_replace over PII_PATTERNS — emails, IPv4 addresses,
    phone-shaped digit runs → typed placeholders. Pure codegen (no UDF);
    the standard scrub step before a corpus becomes training data. At
    100 TB this is a map-only column rewrite."""
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-document match counts per PII class (audit/report side).

    Each class is counted on text with the PRECEDING classes already
    redacted — the same left-to-right shielding redact_pii applies — so
    counts agree with what redaction actually replaces. Counting every
    pattern independently on the raw text would double-count: the
    phone-shaped digit-run pattern also matches a dotted-quad IP, so a
    document with one IP and no phone would report n_phones=1."""
    names = ("emails", "ips", "phones")
    out: dict[str, Column] = {}
    cur = text
    for name, (pat, repl) in zip(names, PII_PATTERNS):
        out[f"n_{name}"] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, repl)
    return out


# --- repetition-based quality filters (Gopher-style) ------------------------


def dup_token_fraction(text: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token:
    1 - distinct/total. High values flag boilerplate/spam documents."""
    toks = tokens(text)
    n = F.size(toks)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.round(1.0 - F.size(F.array_distinct(toks)) / n, 4)
    )


def dup_bigram_fraction(text: Column) -> Column:
    """Fraction of duplicate word bigrams — the n-gram repetition filter
    from Gopher-style quality pipelines, as one codegen expression
    (zip_with over two shifted views of the token array; no UDF).

    The bigram is represented as ``xxhash64(left, right)`` — a LONG — so
    ``array_distinct`` takes the primitive hash-set path instead of the
    string path (measured 7.6 s → 4.9 s over the 46k-doc sf1 corpus; the
    fraction is identical absent a 64-bit collision WITHIN one document,
    p ≈ L²/2⁶⁵ — the DuckDB twins keep counting distinct bigram STRINGS
    and the parity suite pins the values equal). Implementation note:
    the shifted views must be zip_with ARGUMENTS (slices) — referencing
    the outer token array from inside the lambda via element_at
    re-evaluates the whole tokenize subtree per element (measured 13×
    slower)."""
    return dup_bigram_fraction_from_tokens(tokens(text))


def dup_token_fraction_from_tokens(toks: Column) -> Column:
    """``dup_token_fraction`` over an ALREADY-tokenized array column —
    same single-evaluation rationale as
    :func:`dup_bigram_fraction_from_tokens`."""
    n = F.size(toks)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.round(1.0 - F.size(F.array_distinct(toks)) / n, 4)
    )


def dup_bigram_fraction_from_tokens(toks: Column) -> Column:
    """``dup_bigram_fraction`` over an ALREADY-tokenized array column.
    When ``toks`` is a plain column reference the split is evaluated
    once; when it is the inline ``tokens(text)`` expression, the four
    references here (two slices, two sizes) each re-evaluate it —
    measured 5.2 s vs 2.2 s per corpus pass at sf1. Plans that consume
    several token-derived signals should materialize the split as a
    column first (:func:`quality_gate_flags`)."""
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.xxhash64(a, b),
    )
    n = F.size(bigrams)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.round(1.0 - F.size(F.array_distinct(bigrams)) / n, 4)
    )


#: Ordered quality-gate rules: (name, threshold description). The FIRST
#: failing rule names the reject reason, so audits are deterministic.
QUALITY_GATE_RULES = (
    "too_short",
    "too_long",
    "repetitive",
    "low_stopword",
    "non_english",
)


def quality_gate(
    text: Column,
    min_tokens: int = 15,
    max_tokens: int = 2000,
    max_dup_bigram: float = 0.2,
    min_stopword: float = 0.05,
    lang_threshold: float = 0.10,
) -> dict[str, Column]:
    """Gopher-style composite keep/drop decision as pure codegen columns.

    Returns {n_tokens, dup_bigram_frac, stop_ratio, reject_reason, keep}:
    the document-level filter a training-corpus build runs over every
    candidate (length band, bigram-repetition cap, stopword floor,
    language gate — the C4/Gopher rule families), with the FIRST failing
    rule named so corpus audits can aggregate drop reasons. Map-only at
    any scale; every term is a native expression over one tokens() array.
    """
    n = token_count(text)
    dup_bi = dup_bigram_fraction(text)
    stop = stopword_ratio(text)
    reason = _gate_reason(
        n, dup_bi, stop, min_tokens, max_tokens, max_dup_bigram,
        min_stopword, lang_threshold,
    )
    return {
        "n_tokens": n,
        "dup_bigram_frac": dup_bi,
        "stop_ratio": F.round(stop, 4),
        "reject_reason": reason,
        "keep": reason.isNull(),
    }


def _gate_reason(
    n: Column,
    dup_bi: Column,
    stop: Column,
    min_tokens: int,
    max_tokens: int,
    max_dup_bigram: float,
    min_stopword: float,
    lang_threshold: float,
) -> Column:
    """First-failing-rule reason from the three gate signals (``stop`` is
    the RAW unrounded ratio)."""
    return (
        F.when(n < min_tokens, "too_short")
        .when(n > max_tokens, "too_long")
        .when(dup_bi > max_dup_bigram, "repetitive")
        .when(stop < min_stopword, "low_stopword")
        # == predict_lang(text, lang_threshold) != "en", expressed on the
        # stop ratio ALREADY computed above (predict_lang would re-derive
        # the whole tokens()+stopword subtree — review finding). The
        # isNull leg preserves predict_lang's NULL-text behavior (NULL
        # ratio → 'other' → reject) even under ANSI mode, where the
        # length rules never fire on NULL
        .when(stop.isNull() | (stop < lang_threshold), "non_english")
    )


def quality_gate_flags(
    df: "DataFrame",
    text_col: str = "text",
    min_tokens: int = 15,
    max_tokens: int = 2000,
    max_dup_bigram: float = 0.2,
    min_stopword: float = 0.05,
    lang_threshold: float = 0.10,
) -> "DataFrame":
    """:func:`quality_gate` as a DataFrame transform that evaluates each
    signal ONCE: adds ``n_tokens``, ``dup_bigram_frac``, ``stop_ratio``,
    ``quality_reject`` (same values as the Column form — one shared
    oracle).

    Why this exists: the Column form hands back four independent
    expression trees, and Catalyst does not share subtrees ACROSS
    project-list items whose lambdas block codegen CSE — a plan that
    evaluates all four re-runs the tokenizer ~10× (measured 13.1 s per
    sf1 corpus pass vs 2.3 s for this form; the round-9 funnel
    profiling). Here the split is materialized as one column, each
    signal is computed from it in one projection, and the reason is
    built from the materialized signal COLUMNS in a second projection —
    layered so CollapseProject won't inline a non-cheap producer into
    multiple consumers (each signal stays evaluated once).
    """
    t = F.split(F.trim(F.col(text_col)), r"\s+")
    out = df.withColumn("__toks", t).withColumns(
        {
            "n_tokens": F.size("__toks"),
            "dup_bigram_frac": dup_bigram_fraction_from_tokens(F.col("__toks")),
            "__stop_raw": stopword_ratio_from_tokens(F.col("__toks")),
        }
    )
    return out.withColumns(
        {
            "stop_ratio": F.round(F.col("__stop_raw"), 4),
            "quality_reject": _gate_reason(
                F.col("n_tokens"),
                F.col("dup_bigram_frac"),
                F.col("__stop_raw"),
                min_tokens,
                max_tokens,
                max_dup_bigram,
                min_stopword,
                lang_threshold,
            ),
        }
    ).drop("__toks", "__stop_raw")


def chunk_text(
    df: "DataFrame",
    id_col: str,
    text_col: str,
    chunk_chars: int = 1000,
    overlap: int = 100,
) -> "DataFrame":
    """Overlapping fixed-width character chunks — the RAG/embedding prep
    slicer (long documents must be cut to the encoder's context window;
    overlap keeps boundary-straddling content retrievable). One row per
    chunk: (id, chunk_idx, chunk_start, chunk).

    Pure codegen: sequence() enumerates 1-based start offsets at stride
    ``chunk_chars - overlap``, posexplode emits chunks row-at-a-time —
    the expansion streams through the generator, no arrays of chunks are
    ever materialized per document, no UDF, no shuffle. NULL/empty texts
    produce no chunks (filter before the explode, so the generator input
    is never NULL).

    Scale: map-only. Feed the output straight to the embedding seam
    (operators/embedding.py) or dedup — chunk_start makes the chunk id
    (doc id, start) stable under re-chunking with the same parameters.
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    step = chunk_chars - overlap
    starts = F.sequence(F.lit(1), F.length(F.col(text_col)), F.lit(step))
    return (
        df.filter(F.length(F.col(text_col)) > 0)
        .select(F.col(id_col), F.col(text_col), F.posexplode(starts).alias("chunk_idx", "__s"))
        .select(
            id_col,
            "chunk_idx",
            F.col("__s").alias("chunk_start"),
            F.substring(F.col(text_col), F.col("__s"), chunk_chars).alias("chunk"),
        )
    )


def drop_repeated_units(
    df,
    id_col: str,
    text_col: str,
    delimiter: str = "\n",
    keep_blank: bool = True,
):
    """Intra-document repeated-unit removal — the Dolma/Gopher cleanup
    that strips boilerplate repeated WITHIN one document (navigation
    menus repeated per section, duplicated paragraphs from template
    glitches): split on ``delimiter``, keep each unit's FIRST occurrence
    in order, rejoin. ``keep_blank`` preserves blank units (document
    structure) even when repeated.

    Map-only: one split + one index-aware ``filter`` lambda whose
    ``array_position`` probe is the first-occurrence test — O(units²)
    string compares per document, all inside codegen, no UDF, no
    shuffle. Returns the input columns plus ``cleaned`` (the rejoined
    text), ``n_units`` and ``n_removed``. NULL text passes through as
    NULL cleaned / NULL counts."""
    import re as _re

    parts = F.split(F.col(text_col), _re.escape(delimiter))
    first = lambda x, i: F.array_position(parts, x) == i + F.lit(1)  # noqa: E731
    if keep_blank:
        pred = lambda x, i: (F.trim(x) == "") | first(x, i)  # noqa: E731
    else:
        pred = first
    kept = F.filter(parts, pred)
    # size(NULL) is -1 under the legacy conf — gate counts on text
    # nullness explicitly so NULL text yields NULL counts everywhere
    nn = F.col(text_col).isNotNull()
    return (
        df.withColumn("__kept", kept)
        .withColumn(
            "cleaned",
            F.when(nn, F.array_join(F.col("__kept"), delimiter)),
        )
        .withColumn("n_units", F.when(nn, F.size(parts)))
        .withColumn(
            "n_removed", F.when(nn, F.size(parts) - F.size(F.col("__kept")))
        )
        .drop("__kept")
    )


def compressed_size(text: Column, level: int = 6) -> Column:
    """zlib-compressed byte length of the UTF-8 text — the RefinedWeb/
    MassiveText "compression ratio" quality signal's numerator: highly
    compressible documents are templated/repetitive boilerplate, nearly
    incompressible ones are often binary junk or hash dumps.

    This is the repo's one justified row-wise Python computation beside
    the model seam: there is no codegen zlib, but the UDF is
    Arrow-batched (pandas_udf — columnar transfer, one Python call per
    batch) and zlib itself is C. Map-only at any scale. NULL text →
    NULL."""
    import zlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _csize(s):
        return s.map(
            lambda t: None
            if t is None
            else len(zlib.compress(t.encode("utf-8"), level))
        )

    # annotations set as OBJECTS: the module's `from __future__ import
    # annotations` would stringify inline hints, and pyspark resolves
    # them against function globals where the local pandas import is
    # invisible
    _csize.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_csize, "long")(text)


def compression_ratio_stats(df, id_col: str, text_col: str, level: int = 6):
    """Per-document compression-ratio profile: (id, n_bytes,
    n_compressed, compression_ratio) where ratio = compressed/raw —
    low = repetitive, ~1 = incompressible. Empty text yields NULL ratio
    (0/0 guarded), NULL text yields NULL everywhere."""
    raw = F.octet_length(F.col(text_col))
    comp = compressed_size(F.col(text_col), level)
    return df.select(
        F.col(id_col),
        raw.alias("n_bytes"),
        comp.alias("n_compressed"),
        F.when(raw > 0, F.round(comp / raw, 4)).alias("compression_ratio"),
    )
