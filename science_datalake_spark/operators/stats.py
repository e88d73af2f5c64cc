"""Scale-safe exact quantiles: linear-interpolated (DuckDB
``quantile_cont``) results without buffering every row of a group.

Exact ``percentile``/``median`` over the raw rows hold the full
per-group value array in executor memory (OpenHashMap of every value) —
the round-1 bench's two slowest aggregations, and an OOM hazard on a
100 TB group. The engines here stay exact, because oracle parity
demands it, and avoid that buffer:

- ``exact_group_quantiles_percentile``: bounded value domains;
  ``percentile`` over the (group, value) count histogram
  (``agg_stats_profile``).
- ``exact_quantiles_histogram``: the global one-action form for bounded
  domains.
- ``exact_group_quantiles_parallel``: continuous domains; range-bucketed
  ranking.
- ``exact_group_quantiles``: the window path, the reference the other
  engines are tested against.

For sketch accuracy at fixed memory, call Spark's ``percentile_approx``
directly (mergeable Greenwald-Khanna partials, relative-error bound
1/accuracy).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_group_quantiles(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    quantiles: Sequence[float],
    out_names: Sequence[str] | None = None,
    group_counts: DataFrame | None = None,
    extra_aggs: "dict[str, object] | None" = None,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """EXACT linearly-interpolated per-group quantiles WITHOUT per-group
    value buffering — the distributed replacement for Spark's
    ``percentile``/``median`` aggregate (which holds every group value in
    an executor-side map: the round-1 bench's slowest aggregation and an
    OOM at degenerate groups).

    Algorithm (all codegen, no UDF, no buffering):
      1. rank non-null values per group TWICE — ascending and descending
         over a unique tiebreaker, so the orders are exact reverses (one
         hash-partition + two in-partition sorts; Spark's external sort
         spills, so any group size is safe). Both row_number windows use
         a RUNNING frame, so no window ever buffers a partition — an
         unbounded-frame ``count(*) over (partition by keys)`` would
         buffer every group in executor memory (measured 6× slower on a
         3-group 600k-row input, and exactly the OOM shape this operator
         exists to avoid), and a counts-side join would re-scan the input
         and broadcast one row per group (unbounded when groups are the
         high-cardinality side — round-3 advice finding).
      2. per-group size is then just  __n = __idx + __ridx + 1  on every
         row — the input is scanned ONCE, no join, no broadcast, nothing
         materialized per group.
      3. each quantile q needs only rows at rank floor(p) / floor(p)+1
         where p=(n-1)·q; everything else contributes zero weight, and a
         conditional-sum aggregate interpolates:  v_lo·(1-frac)+v_hi·frac
    The final groupBy reuses the window's hash partitioning — no extra
    shuffle. Matches Spark ``percentile`` and DuckDB ``quantile_cont``
    semantics exactly (both linear interpolation).

    Groups whose values are ALL NULL have no ranked rows and are absent
    from the output (SQL aggregate semantics would return them with NULL
    quantiles) — LEFT-join the result from your dimension relation when
    those groups must survive, as agg_stats_profile does.

    ``group_counts``: optional (keys..., ``__nv``) frame carrying each
    group's NON-NULL value count. When the caller already aggregates the
    same input (agg_stats_profile computes count/avg/min/max anyway),
    passing the counts here replaces the second (descending) sort pass
    with a join on the ranked side's existing hash partitioning — ONE
    full sort of the corpus instead of two, the dominant cost of this
    operator at scale. The join is left to Catalyst/AQE (broadcast when
    |G| is small, co-partitioned shuffle join otherwise), so it stays
    safe when groups are the high-cardinality side.

    ``extra_aggs``/``carry_cols``: FUSED-PROFILE mode. When the caller
    would otherwise run a second aggregation pass over the same input for
    count/avg/min/max/corr (the agg_stats_profile shape), passing those
    aggregates here computes them in the SAME final groupBy — which
    reuses the window's hash partitioning, so the whole profile becomes
    one scan + one shuffle + two in-partition sorts, with no second pass
    and no join. ``carry_cols`` are extra input columns the aggregate
    expressions reference; the value column is available as ``__v``.
    Fused mode keeps NULL-valued rows (ranked nulls-last, so non-null
    ranks are unperturbed and null rows can never hit a quantile
    position) so COUNT(*)-style extra aggregates see every row, and
    all-NULL groups survive with NULL quantiles — exactly SQL aggregate
    semantics, no compensating left join needed. Mutually exclusive with
    ``group_counts`` (fused mode has no separate agg to borrow counts
    from). Cost trade-off, measured at sf0.1: fused saves the separate
    aggregation pass (~0.4 s) but pays a SECOND in-partition sort over
    rows widened by ``carry_cols`` (~0.7 s) — so the two-pass
    ``group_counts`` shape wins when the extra aggregates are cheap
    (agg_stats_profile keeps it); fuse when the second pass would
    re-scan an expensive upstream (a join/UDF-derived input that would
    otherwise need a persist).
    """
    if out_names is None:
        out_names = [f"p{int(round(q * 100))}" for q in quantiles]
    keys = list(keys)
    if extra_aggs is not None:
        if group_counts is not None:
            raise ValueError("extra_aggs and group_counts are mutually exclusive")
        asc_nl = Window.partitionBy(*keys).orderBy(
            F.asc_nulls_last("__v"), F.asc("__uid")
        )
        desc_nl = Window.partitionBy(*keys).orderBy(
            F.desc_nulls_last("__v"), F.desc("__uid")
        )
        # nulls sort LAST under BOTH orders: for every non-null row the two
        # indexes still count positions within the non-null block only, so
        # __n = __idx + __ridx + 1 is that row's group non-null count; null
        # rows get garbage __n but contribute NULL to every quantile sum
        # (their __idx >= n exceeds every quantile position, and __v is
        # NULL besides)
        r = (
            df.select(*keys, F.col(value_col).alias("__v"), *carry_cols)
            .withColumn("__uid", F.monotonically_increasing_id())
            .withColumn("__idx", F.row_number().over(asc_nl) - 1)
            .withColumn("__ridx", F.row_number().over(desc_nl) - 1)
            .withColumn("__n", F.col("__idx") + F.col("__ridx") + 1)
        )
        aggs = _quantile_contrib_aggs(quantiles, out_names)
        aggs.extend(expr.alias(name) for name, expr in extra_aggs.items())
        return r.groupBy(*keys).agg(*aggs)
    asc = Window.partitionBy(*keys).orderBy(F.asc("__v"), F.asc("__uid"))
    r = (
        df.select(*keys, F.col(value_col).alias("__v"))
        .filter(F.col("__v").isNotNull())
        .withColumn("__uid", F.monotonically_increasing_id())
        .withColumn("__idx", F.row_number().over(asc) - 1)
    )
    if group_counts is not None:
        # null-SAFE equality on every key: a NULL group key is a real
        # group to SQL aggregation (the window path ranks it like any
        # other partition), and a plain equi-join would silently drop it
        # — a performance parameter must not change results
        counts = group_counts.select(*keys, F.col("__nv").alias("__n"))
        r = _null_safe_join(r, counts, keys, broadcast=False)
    else:
        desc = Window.partitionBy(*keys).orderBy(F.desc("__v"), F.desc("__uid"))
        r = r.withColumn("__ridx", F.row_number().over(desc) - 1).withColumn(
            "__n", F.col("__idx") + F.col("__ridx") + 1
        )
    return r.groupBy(*keys).agg(*_quantile_contrib_aggs(quantiles, out_names))


def exact_group_quantiles_parallel(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    quantiles: Sequence[float],
    out_names: Sequence[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """``exact_group_quantiles`` for LOW-CARDINALITY keys: the window path
    hash-partitions by the group key, so with 3 groups on a 1000-core
    cluster THREE tasks sort the whole corpus — the classic
    low-cardinality window serialization. This variant keeps every core
    busy via distributed two-phase ranking:

      1. value-range bucketing against DETERMINISTIC boundaries: the
         driver computes ``num_partitions - 1`` approximate global value
         quantiles ONCE (one sampled action) and folds them into the
         plan as an array LITERAL; ``__pid`` = count of boundaries below
         the value. pid is monotone in the value, equal values always
         share a bucket, and — because the boundaries are literals —
         every subtree that references ``__pid`` sees the SAME bucketing
         by construction. (The previous formulation derived __pid from
         ``spark_partition_id()`` over a sampled ``repartitionByRange``,
         whose correctness silently rode on exchange reuse deduplicating
         the two sampling exchanges, then on a persist whose slot-cache
         eviction could undo it — advisor + review findings. Literal
         boundaries remove the dependency instead of patching it.)
      2. local ranks: row_number within (__pid, keys) — the hash shuffle
         on (__pid, keys) keeps parallelism at num_partitions, and
         in-partition sort cost is 1/Nth.
      3. global rank = local rank + the cumulative count of earlier
         buckets' rows for the same group — the offsets relation is
         tiny (num_partitions × |groups| rows) and comes from a count
         aggregate over the same bucketing.
      4. the same conditional-sum interpolation as the window path.

    Measured at sf0.1 / local[32] this LOSES to the window path (~1.8 s
    vs ~1.0 s — extra sampling pass + two more stages dwarf the sort
    savings at 600 K rows), which is why agg_stats_profile does not use
    it; it exists for the shape where the window path cannot scale:
    corpus >> cores × group-count. NULL group keys are handled (null-safe
    join); NULL values are excluded like the window path. The value
    column must be numeric (the boundary sampler requires it).
    """
    if out_names is None:
        out_names = [f"p{int(round(q * 100))}" for q in quantiles]
    keys = list(keys)
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(*keys, F.col(value_col).alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    probs = [i / num_partitions for i in range(1, num_partitions)]
    bounds = sorted(set(base.stat.approxQuantile("__v", probs, 0.001))) if probs else []
    if bounds:
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        pid = F.size(F.filter(barr, lambda b: b < F.col("__v")))
    else:
        pid = F.lit(0)
    base = base.withColumn("__pid", pid)
    lw = Window.partitionBy("__pid", *keys).orderBy("__v")
    r = base.withColumn("__lidx", F.row_number().over(lw) - 1)
    counts = base.groupBy("__pid", *keys).agg(F.count("*").alias("__c"))
    ow = (
        Window.partitionBy(*keys)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.withColumn("__off", F.coalesce(F.sum("__c").over(ow), F.lit(0)))
    tot = counts.groupBy(*keys).agg(F.sum("__c").alias("__n"))
    # fold the per-group total INTO the offsets frame first (tiny×tiny)
    # so the corpus side is probed by ONE broadcast join, not two
    side = _null_safe_join(
        offs.select("__pid", *keys, "__off"), tot, keys, broadcast=False
    )
    r = _null_safe_join(r, side, ["__pid", *keys])
    r = r.withColumn("__idx", F.col("__lidx") + F.col("__off"))
    return r.groupBy(*keys).agg(*_quantile_contrib_aggs(quantiles, out_names))


def _value_histogram(df: DataFrame, keys: Sequence[str], value_col: str) -> DataFrame:
    """The shared first stage of every histogram quantile engine: one
    map-side-combinable (keys..., value) count shuffle with NULL values
    excluded, output bounded by |key groups| x |value domain| at any
    corpus size. Shared so the global and grouped engines cannot
    silently diverge on histogram semantics (review finding)."""
    return (
        df.select(*keys, F.col(value_col).alias("__v"))
        .filter(F.col("__v").isNotNull())
        .groupBy(*keys, "__v")
        .agg(F.count("*").alias("__c"))
    )


def exact_quantiles_histogram(
    df: DataFrame,
    value_col: str,
    quantiles: Sequence[float],
    out_names: Sequence[str] | None = None,
) -> DataFrame:
    """Exact GLOBAL quantiles for a BOUNDED-CARDINALITY value domain in a
    single job: value-count histogram (one mergeable shuffle) → cumulative
    ranks over the *distinct values* → conditional-sum interpolation.
    Returns a 1-row frame, so ``.first()`` is ONE driver action — versus
    the two (boundary sample + rank pass) that
    ``exact_group_quantiles_parallel`` needs for continuous domains.

    When to use: the value is discretized — e.g. a score ``round()``-ed to
    d decimals over a bounded range, where distinct-value count is
    ≤ range/10^-d *independent of corpus size* (unigram_logprob_scores'
    4-decimal avg_neg_logprob: ≤ ~10^5 ·range values at ANY corpus scale).
    The cumulative-rank window runs unpartitioned over exactly those
    distinct values, so its single task is bounded by the value domain,
    not the data; the histogram aggregation below it is map-side
    combinable and fully parallel. For continuous domains (unbounded
    distinct values) use ``exact_group_quantiles_parallel`` instead.

    Semantics match ``quantile_cont``/Spark ``percentile`` (linear
    interpolation), with the same two-term contribution arithmetic as
    ``_quantile_contrib_aggs`` so thresholds land on identical doubles.
    NULL values are excluded; empty input yields NULL quantiles.
    """
    if out_names is None:
        out_names = [f"p{int(round(q * 100))}" for q in quantiles]
    hist = _value_histogram(df, [], value_col)
    tot = hist.agg(F.sum("__c").alias("__n"))
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    r = hist.withColumn("__cum", F.sum("__c").over(w)).crossJoin(F.broadcast(tot))
    # value __v covers global ranks [__cum - __c, __cum - 1]; quantile q
    # needs ranks floor(p) and floor(p)+1 where p = (n-1)q
    aggs = []
    for q, name in zip(quantiles, out_names):
        pos = (F.col("__n") - 1) * F.lit(float(q))
        lo = F.floor(pos)
        frac = pos - lo
        lo_in = (F.col("__cum") - F.col("__c") <= lo) & (lo < F.col("__cum"))
        hi_in = (
            (F.col("__cum") - F.col("__c") <= lo + 1)
            & (lo + 1 < F.col("__cum"))
            & (frac > 0)
        )
        t1 = F.sum(F.when(lo_in, F.col("__v") * (F.lit(1.0) - frac)))
        t2 = F.sum(F.when(hi_in, F.col("__v") * frac))
        aggs.append((t1 + F.coalesce(t2, F.lit(0.0))).alias(name))
    return r.agg(*aggs)


def exact_group_quantiles_percentile(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    quantiles: Sequence[float],
    out_names: Sequence[str] | None = None,
) -> DataFrame:
    """Exact per-group quantiles for a BOUNDED-CARDINALITY value domain
    via Spark's ``percentile(value, array(...), frequency)`` aggregate
    over the (group, value) count histogram — the round-14 successor to
    the window-over-histogram engine for the grouped-profile queries.
    Same first stage (one map-side-combinable histogram shuffle
    bounded by |groups| x |value domain| at ANY corpus size), but the
    rank/interpolation arithmetic runs inside ONE hash aggregate instead
    of a per-group window sort + per-quantile conditional sums: measured
    bit-identical to the window path on the lineitem price grid and
    1.67-1.83 -> 1.34 s at sf1, 2.51 -> 2.37 s sf3, 1.81 -> 1.31 s
    sf0.1 (agg_stats_profile end-to-end, interleaved best-of-3).

    Trade-off vs the window path: ``percentile`` buffers one group's
    (value, count) pairs in its aggregation buffer (ObjectHashAggregate
    — falls back to sort-based with spilling under memory pressure),
    where the window sorts them externally. Both are bounded by the
    value-domain size, NOT the corpus — the histogram stage already
    collapsed duplicates — so the 100 TB contract is unchanged: use
    either only when |value domain| per group is materially smaller than
    rows (else :func:`exact_group_quantiles_parallel`)."""
    if out_names is None:
        out_names = [f"p{int(round(q * 100))}" for q in quantiles]
    keys = list(keys)
    hist = _value_histogram(df, keys, value_col)
    arr = ", ".join(f"{float(q)!r}d" for q in quantiles)
    out = hist.groupBy(*keys).agg(
        F.expr(f"percentile(__v, array({arr}), __c)").alias("__qs")
    )
    return out.select(
        *keys,
        *[F.col("__qs")[i].alias(n) for i, n in enumerate(out_names)],
    )


def _null_safe_join(
    left: DataFrame, right: DataFrame, on: Sequence[str], broadcast: bool = True
) -> DataFrame:
    """Equi-join where NULL join keys MATCH (eqNullSafe on every key) —
    a NULL group key is a real group to SQL aggregation, and a plain
    equi-join would silently drop it. ``broadcast`` force-broadcasts the
    right side (leave False to let Catalyst/AQE choose when the right
    side may be large)."""
    renamed = right.select(
        *[F.col(c).alias(f"__r_{c}") for c in on],
        *[c for c in right.columns if c not in on],
    )
    if broadcast:
        renamed = F.broadcast(renamed)
    cond = None
    for c in on:
        eq = F.col(c).eqNullSafe(F.col(f"__r_{c}"))
        cond = eq if cond is None else (cond & eq)
    return left.join(renamed, cond).drop(*[f"__r_{c}" for c in on])


def _quantile_contrib_aggs(quantiles: Sequence[float], out_names: Sequence[str]) -> list:
    """Conditional-sum interpolation aggregates over (__v, __idx, __n)."""
    aggs = []
    for q, name in zip(quantiles, out_names):
        pos = (F.col("__n") - 1) * F.lit(float(q))
        lo = F.floor(pos)
        frac = pos - lo
        contrib = F.when(F.col("__idx") == lo, F.col("__v") * (F.lit(1.0) - frac)).when(
            (F.col("__idx") == lo + 1) & (frac > 0), F.col("__v") * frac
        )
        aggs.append(F.sum(contrib).alias(name))
    return aggs


def wilson_keep_rate(
    df: DataFrame,
    group_col: str,
    keep_col: str,
    z: float = 1.96,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group keep-rate with its Wilson-score LOWER BOUND — the
    small-sample-safe statistic for gating decisions over grouped
    pass/fail verdicts (block a web domain / drop a source when even the
    CI's lower bound clears the cut). A raw rate calls 1/1 a perfect
    group and 0 rejects in 3 docs "clean"; the Wilson interval
    (Wilson 1927, the recommended binomial CI at small n) shrinks toward
    1/2 exactly as the evidence thins:

        lb = (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)

    ONE map-side-combinable aggregation (count + conditional count per
    group) and a closed-form projection — no per-group value buffering,
    any group cardinality. NULL verdicts count as NOT kept (a gate that
    produced no verdict must not inflate the rate). Rates and bounds
    rounded to ``round_digits`` so a relational twin evaluating the
    identical formula lands on the same doubles."""
    kept = F.sum(F.when(F.col(keep_col), 1).otherwise(0))
    agg = df.groupBy(group_col).agg(
        F.count("*").alias("n"),
        kept.cast("long").alias("n_kept"),
    )
    n, k = F.col("n").cast("double"), F.col("n_kept").cast("double")
    p = k / n
    z2 = float(z) * float(z)
    lb = (
        p + F.lit(z2) / (2 * n)
        - F.lit(float(z)) * F.sqrt(p * (1 - p) / n + F.lit(z2) / (4 * n * n))
    ) / (1 + F.lit(z2) / n)
    return agg.select(
        group_col,
        "n",
        "n_kept",
        F.round(p, round_digits).alias("keep_rate"),
        F.round(lb, round_digits).alias("keep_rate_lb"),
    )
