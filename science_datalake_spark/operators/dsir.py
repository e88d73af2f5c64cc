"""DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
2023): select pretraining documents from a large RAW pool so the selected
set matches a small TARGET distribution (e.g. high-quality English prose),
using importance weights computed on hashed n-gram bag-of-words features.

The published recipe, re-expressed Spark-first:

1. Featurize every document as a bag of hashed unigram buckets
   (``num_buckets`` total — the paper uses 10k; hashing makes the feature
   space FIXED-SIZE regardless of vocabulary, which is what makes the
   method run on 100 TB: the per-corpus feature distribution aggregates to
   at most ``num_buckets`` rows with full map-side combine).
2. Fit smoothed categorical distributions p_target / p_raw over buckets.
3. Per raw document: log importance weight = Σ_tokens
   log p_target(bucket) − log p_raw(bucket).
4. Resample without replacement via the Gumbel top-k trick: rank by
   log_weight + Gumbel noise; the top-k is a sample from the
   softmax(log_weight) distribution without replacement.

Determinism & oracle portability: both the feature hash and the Gumbel
noise derive from md5 (first 8 hex chars → uint32), never from rand() or
xxhash64 — a pure function of (data, seed) under any partitioning, and
computable verbatim by the DuckDB twin (``('0x' || substr(md5(..),1,8))
::BIGINT``).

Scale shape: two bounded aggregations (≤ num_buckets rows each, map-side
combined), then scoring: the ≤num_buckets-row ratio is broadcast onto the
per-occurrence token stream (one data-sized per-doc shuffle). The
map-only hash pass relies on scan fan-out to parallelize
(session.SCAN_OPEN_COST_BYTES).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hashed_token_bucket(tok: F.Column, num_buckets: int) -> F.Column:
    """Oracle-portable hashed feature id: md5 first 8 hex chars as uint32,
    mod ``num_buckets``. (uint32 is non-negative, so % == pmod.)"""
    u32 = F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")
    return (u32 % num_buckets).alias("__b")


def _token_buckets(df: DataFrame, id_col: str, text_col: str, num_buckets: int) -> DataFrame:
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__tok"),
    )
    return toks.select(id_col, hashed_token_bucket(F.col("__tok"), num_buckets))


def feature_counts(
    df: DataFrame, id_col: str, text_col: str, num_buckets: int
) -> DataFrame:
    """Hashed-unigram feature distribution: (bucket, count) — at most
    ``num_buckets`` rows, fully map-side combinable."""
    return _token_buckets(df, id_col, text_col, num_buckets).groupBy("__b").agg(
        F.count("*").alias("__ct")
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int = 1024,
    alpha: float = 0.5,
    persist_tokens: bool | str = True,
) -> DataFrame:
    """Per-raw-document DSIR log importance weight.

    Returns (id_col, n_tokens, log_weight) where
    ``log_weight = Σ_tokens [ln(ct_b+α) − ln(T+αB) − ln(cr_b+α) + ln(R+αB)]``
    with ct/cr the target/raw bucket counts, T/R the corpora token totals,
    B = num_buckets, α additive smoothing. The four-term form (instead of
    ln of a precomputed ratio) keeps each term exactly reproducible by the
    SQL twin.

    Scoring md5s every token occurrence into an (id, array<bucket>)
    relation, broadcasts the ≤B-row ratio onto the exploded stream and
    sums per doc. ``dsir_score_with_model`` keeps the map-only fold shape
    for stateless scoring of NEW batches/streams against a frozen model.

    The raw corpus is needed TWICE (its feature distribution, then
    per-doc scoring); ``persist_tokens=True`` materializes the hashed
    token stream ONCE into a persisted skinny (id, array<bucket>)
    relation (~8 bytes/token, MEMORY_AND_DISK blocks so it spills
    instead of OOMing) so the md5 tokenization doesn't run twice — the same work shape a columnar engine gets by materializing
    the twice-referenced CTE. Pass False to recompute when the token
    stream exceeds what the cluster wants to hold.

    Cache lifetime: the materialization is a lazy ``localCheckpoint``,
    not a CacheManager persist — ContextCleaner releases the blocks once
    the query's handles are garbage-collected, so repeated scoring runs
    in one session cannot accumulate corpus-sized cache entries (the
    r11 advisor finding). TRADE-OFF (Spark's own localCheckpoint
    warning): checkpoint blocks TRUNCATE lineage, so losing an executor
    (dynamic allocation, spot preemption) between the two consumers
    makes the relation unrecoverable and FAILS the job, where a persist
    would transparently recompute. On clusters with executor churn pass
    ``persist_tokens="persist"`` to keep the recomputable
    MEMORY_AND_DISK persist instead — accepting that the CacheManager
    entry outlives the query until unpersisted (round-12 advice).
    """
    if isinstance(persist_tokens, str) and persist_tokens != "persist":
        # any other truthy string ("Persist", "cache") would silently fall
        # through to the localCheckpoint branch, defeating the
        # executor-churn-safe mode the caller asked for (r13 advice)
        raise ValueError(
            f"persist_tokens must be a bool or 'persist', got {persist_tokens!r}"
        )
    rtoks_arr = raw.select(
        F.col(id_col),
        F.transform(
            F.split(F.trim(F.col(text_col)), r"\s+"),
            lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
            % num_buckets,
        ).alias("__bs"),
    )
    if persist_tokens == "persist":
        # executor-churn-safe mode: recomputable lineage kept (see the
        # docstring trade-off)
        from pyspark import StorageLevel

        rtoks_arr = rtoks_arr.persist(StorageLevel.MEMORY_AND_DISK)
    elif persist_tokens:
        # localCheckpoint, NOT persist: blocks default to MEMORY_AND_DISK
        # like the cache, but ContextCleaner releases them when the query's
        # handles are GC'd — a CacheManager entry would outlive the query
        # and accumulate corpus-sized cache across a long session (r11
        # advisor finding). Lazy: the first consumer's action materializes.
        rtoks_arr = rtoks_arr.localCheckpoint(eager=False)
    rtoks = rtoks_arr.select(id_col, F.explode("__bs").alias("__b"))
    tc = feature_counts(target, id_col, text_col, num_buckets)
    rc = rtoks.groupBy("__b").agg(F.count("*").alias("__ct"))
    ratio = _ratio_relation(tc, rc, num_buckets, alpha)
    scored = rtoks.join(F.broadcast(ratio), "__b")
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"), F.sum("__lr").alias("log_weight")
    )


def _ratio_relation(tc: DataFrame, rc: DataFrame, num_buckets: int, alpha: float) -> DataFrame:
    """The fitted per-bucket log ratio: full-outer join of the two ≤B-row
    count aggregates with the 1-row totals attached via broadcast."""
    t_total = tc.agg(F.sum("__ct").alias("__T"))
    r_total = rc.agg(F.sum("__ct").alias("__R"))
    return (
        tc.withColumnRenamed("__ct", "__tc")
        .join(rc.withColumnRenamed("__ct", "__rc"), "__b", "full_outer")
        .crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(r_total))
        .select(
            "__b",
            (
                F.log(F.coalesce(F.col("__tc"), F.lit(0)).cast("double") + F.lit(alpha))
                - F.log(F.col("__T").cast("double") + F.lit(alpha * num_buckets))
                - F.log(F.coalesce(F.col("__rc"), F.lit(0)).cast("double") + F.lit(alpha))
                + F.log(F.col("__R").cast("double") + F.lit(alpha * num_buckets))
            ).alias("__lr"),
        )
    )


def gumbel_noise(key: F.Column, seed: int = 42) -> F.Column:
    """Deterministic standard-Gumbel draw keyed by md5 of the row key:
    g = −ln(−ln(u)), u = (uint32 + 0.5) / 2^32 ∈ (0,1) strictly (the +0.5
    keeps u off both endpoints where the double ln chain diverges)."""
    u32 = F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(f":g{seed}"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    u = (u32.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    return -F.log(-F.log(u))


def dsir_sample(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_buckets: int = 1024,
    alpha: float = 0.5,
    seed: int = 42,
    persist_tokens: bool = True,
) -> DataFrame:
    """Gumbel top-k resampling over DSIR log weights: a without-replacement
    sample of ``n`` raw documents distributed as softmax(log_weight).
    Returns (id_col, n_tokens, log_weight, score) sorted by score desc.

    Plan: dsir_log_weights (one data-sized per-doc shuffle) + map-only Gumbel perturbation + TakeOrderedAndProject.
    """
    w = dsir_log_weights(
        raw, target, id_col, text_col, num_buckets, alpha, persist_tokens
    )
    scored = w.withColumn("score", F.col("log_weight") + gumbel_noise(F.col(id_col), seed))
    return scored.orderBy(F.desc("score"), id_col).limit(n)


# ---------------------------------------------------------------------------
# Durable DSIR model artifact + map-only scoring (the streaming-safe tier)
# ---------------------------------------------------------------------------
#
# The fitted model IS the bucket->log-ratio relation — at most num_buckets
# rows regardless of corpus size — so it persists as a tiny parquet table
# and scoring NEW documents (the next crawl batch, or a stream) needs no
# corpus aggregation at all: one in-row fold per document over an
# element_at lookup into the collected model array (a single wide array
# literal, NOT num_buckets chained CASEs — the ARCHITECTURE #14 rule).
# Buckets never seen while fitting score the closed-form smoothed default
# ln(a/(T+aB)) - ln(a/(R+aB)).


def dsir_model_write(
    raw,
    target,
    id_col: str,
    text_col: str,
    path: str,
    num_buckets: int = 1024,
    alpha: float = 0.5,
) -> None:
    """Fit the DSIR feature model and persist it: rows (__b, __lr) for
    every bucket seen in either corpus, plus one __b = -1 row carrying the
    unseen-bucket default. <= num_buckets + 1 rows at ANY corpus size."""
    tc = feature_counts(target, id_col, text_col, num_buckets)
    rc = feature_counts(raw, id_col, text_col, num_buckets)
    t_total = tc.agg(F.sum("__ct").alias("__T"))
    r_total = rc.agg(F.sum("__ct").alias("__R"))
    joined = (
        tc.withColumnRenamed("__ct", "__tc")
        .join(rc.withColumnRenamed("__ct", "__rc"), "__b", "full_outer")
        .crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(r_total))
    )
    lr = (
        F.log(F.coalesce(F.col("__tc"), F.lit(0)).cast("double") + F.lit(alpha))
        - F.log(F.col("__T").cast("double") + F.lit(alpha * num_buckets))
        - F.log(F.coalesce(F.col("__rc"), F.lit(0)).cast("double") + F.lit(alpha))
        + F.log(F.col("__R").cast("double") + F.lit(alpha * num_buckets))
    )
    default = (
        F.log(F.lit(float(alpha)))
        - F.log(F.col("__T").cast("double") + F.lit(alpha * num_buckets))
        - F.log(F.lit(float(alpha)))
        + F.log(F.col("__R").cast("double") + F.lit(alpha * num_buckets))
    )
    rows = joined.select("__b", lr.alias("__lr"))
    default_row = (
        t_total.crossJoin(F.broadcast(r_total))
        .select(F.lit(-1).cast("bigint").alias("__b"), default.alias("__lr"))
    )
    rows.unionByName(default_row).coalesce(1).write.mode("overwrite").parquet(path)


def dsir_model_read(spark, path: str, num_buckets: int = 1024) -> list[float]:
    """Load the model as a dense bucket->log-ratio list (index = bucket;
    unseen buckets filled with the stored default). The collect is bounded
    by num_buckets + 1 rows BY CONSTRUCTION — this is the same bounded-
    artifact contract as bloom_read."""
    rows = spark.read.parquet(path).collect()
    default = next(r["__lr"] for r in rows if r["__b"] == -1)
    out = [default] * num_buckets
    for r in rows:
        if r["__b"] >= 0:
            out[int(r["__b"])] = r["__lr"]
    return out


def dsir_score_with_model(
    df,
    id_col: str,
    text_col: str,
    model: list[float],
) -> DataFrame:
    """Score documents against a fitted model MAP-ONLY: per-doc log weight
    = in-row fold over element_at(<array literal>, bucket(token)+1). No
    shuffle, no aggregation state — the plan runs unchanged on a stream
    (stateless projection), which is how the next crawl batch gets scored
    against a frozen target distribution. Returns (id, n_tokens,
    log_weight) with log_weight UNROUNDED (callers round at the edge)."""
    num_buckets = len(model)
    # one ArrayType Literal, not CreateArray-of-B-literals (never folded)
    arr = F.lit([float(v) for v in model])
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    per_tok = F.transform(
        toks,
        lambda t: F.element_at(
            arr,
            (
                (F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint") % num_buckets)
                + 1
            ).cast("int"),
        ),
    )
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.aggregate(per_tok, F.lit(0.0), lambda a, x: a + x).alias("log_weight"),
    )
