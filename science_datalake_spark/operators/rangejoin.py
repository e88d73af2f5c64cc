"""Range / interval joins: banded (bucketed) overlap joins that scale.

The naive interval-overlap join is a theta join (``l.start <= r.end AND
r.start <= l.end``) — Spark can only execute that as a broadcast
nested-loop or cartesian product, O(|L|·|R|) at any cluster size. The
banded strategy turns it into an EQUI join Catalyst can shuffle-hash:

1. chop the number line into fixed-width buckets;
2. each interval emits one row per bucket it touches (``sequence`` +
   ``explode`` — map-side, no shuffle);
3. equi-join on (keys…, bucket) — co-partitioned, AQE-skew-splittable;
4. keep pairs that truly overlap, and keep each pair ONCE by accepting
   it only in the FIRST bucket both intervals share —
   ``greatest(floor(l.start/w), floor(r.start/w))`` — so no distinct
   pass is needed (the dedup is a map-side predicate, not a shuffle).

Skew/scale guards:
- bucket fan-out is ``span/width + 1`` rows per interval — pick
  ``bucket_width`` near the TYPICAL span so fan-out is O(1). Intervals
  spanning more than ``long_span_buckets`` buckets would explode the
  band index, so they are split out and joined by the plain theta
  predicate instead (with equi keys when given): the assumption —
  asserted nowhere but documented here — is that pathological-length
  intervals are RARE (calendar outliers, open-ended sessions), so the
  fallback side stays broadcast-small. The two paths partition the
  pair space exactly: short×short (banded) ∪ long×all ∪ short×long.
- with ``on`` keys the band join is additionally keyed, so group
  cardinality bounds the worst-case pair count per bucket.

Reference surface: the reference engine's analytic joins are plain SQL
theta joins executed in-process (app.py query runner); this module is
the additive distributed-scale counterpart.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(col: Column, width: float) -> Column:
    return F.floor(col / F.lit(width)).cast("long")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    *,
    bucket_width: float,
    on: list[str] | None = None,
    left_bounds: tuple[str, str] = ("start", "end"),
    right_bounds: tuple[str, str] = ("start", "end"),
    right_suffix: str = "_r",
    long_span_buckets: int | None = 64,
    strategy: str = "banded",
    share_scan: bool = False,
    persist_handles: list | None = None,
) -> DataFrame:
    """Inner join of interval pairs that OVERLAP (closed intervals:
    ``l.start <= r.end AND r.start <= l.end``), optionally also equi-keyed
    on ``on``. Bounds columns are numeric (cast dates to epoch days /
    timestamps to epoch seconds first). Right-side non-key columns that
    clash with left names come back suffixed with ``right_suffix``.
    Each surviving pair is emitted exactly once, so downstream needs no
    dedup; NULL keys and NULL bounds pair with nothing.

    ``strategy="banded"`` (default) is the module's banded equi join
    plus the long-span theta legs. ``long_span_buckets=None`` drops the
    long-span split (the banded path is correct for any span; the split
    only guards band fan-out), leaving one banded join with one scan per
    side — for callers whose spans are bounded by construction.

    ``strategy="keyed"`` (requires ``on``) skips banding: a shuffled
    hash equi-join on the keys with the overlap predicate as a post-join
    filter. Each partition's hash build is held in memory and cannot
    spill, so it is bounded only by the caller's key-group cardinality:
    use it when key groups are small by construction (per-group pair
    count ~ g²), never for unkeyed or corpus-sized groups.

    ``share_scan=True`` (banded with the long-span split only) persists
    each input ONCE (MEMORY_AND_DISK; a self-join where ``right is
    left`` persists one relation) so the three legs read the cache
    instead of scanning each side three times. The caller judges that
    the projected relation fits cluster storage. The persists are not
    released here (the join is lazy); pass ``persist_handles=[]`` to
    receive them and unpersist once results are materialized."""
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    if strategy not in ("banded", "keyed"):
        raise ValueError(f"strategy must be 'banded' or 'keyed', got {strategy!r}")
    if strategy == "keyed" and not on:
        raise ValueError("strategy='keyed' requires equi keys (on=...)")
    on = list(on or [])
    ls, le = left_bounds
    rs, re_ = right_bounds

    if share_scan and strategy == "banded" and long_span_buckets is not None:
        from pyspark import StorageLevel

        self_join = right is left
        left = left.persist(StorageLevel.MEMORY_AND_DISK)
        right = left if self_join else right.persist(StorageLevel.MEMORY_AND_DISK)
        if persist_handles is not None:
            persist_handles.append(left)
            if not self_join:
                persist_handles.append(right)

    # suffix right-side columns that clash (keys keep their names)
    clash = (set(left.columns) & set(right.columns)) - set(on)
    renames = {c: c + right_suffix for c in right.columns if c in clash}
    right = right.select(
        *[F.col(c).alias(renames.get(c, c)) for c in right.columns]
    )
    rs, re_ = renames.get(rs, rs), renames.get(re_, re_)

    overlap = (F.col(ls) <= F.col(re_)) & (F.col(rs) <= F.col(le))

    if strategy == "keyed":
        return left.join(right.hint("shuffle_hash"), on=on).filter(overlap)

    def split(df: DataFrame, s: str, e: str):
        if long_span_buckets is None:
            return df, None
        span_buckets = _bucket(F.col(e), bucket_width) - _bucket(
            F.col(s), bucket_width
        )
        short = df.filter(span_buckets < long_span_buckets)
        long = df.filter(span_buckets >= long_span_buckets)
        return short, long

    l_short, l_long = split(left, ls, le)
    r_short, r_long = split(right, rs, re_)

    # short×short: band explode + equi join + first-common-bucket dedup
    # (module docstring)
    def banded_side(df: DataFrame, s: str, e: str) -> DataFrame:
        band = F.sequence(
            _bucket(F.col(s), bucket_width), _bucket(F.col(e), bucket_width)
        )
        return df.withColumn("__bucket", F.explode(band))

    first_common = F.greatest(
        _bucket(F.col(ls), bucket_width), _bucket(F.col(rs), bucket_width)
    )
    banded = (
        banded_side(l_short, ls, le)
        .join(banded_side(r_short, rs, re_), on=[*on, "__bucket"])
        .filter(overlap & (F.col("__bucket") == first_common))
        .drop("__bucket")
    )

    # theta fallback: long×all plus short×long. The LONG side is the
    # documented-rare one, so it is the broadcast side — the plan
    # becomes BroadcastNestedLoopJoin with a small build, never a
    # CartesianProduct of two big relations (with keys Catalyst still
    # gets an equi component to hash on instead)
    def theta(big: DataFrame, rare: DataFrame, rare_is_right: bool) -> DataFrame:
        a, b = (big, F.broadcast(rare)) if rare_is_right else (
            F.broadcast(rare),
            big,
        )
        if on:
            return a.join(b, on=on).filter(overlap)
        return a.join(b, overlap)

    if long_span_buckets is None:
        return banded
    out = banded
    for part in (
        theta(right, l_long, rare_is_right=False),
        theta(l_short, r_long, rare_is_right=True),
    ):
        out = out.unionByName(part)
    return out


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    bucket_width: float,
    point_col: str,
    bounds: tuple[str, str] = ("start", "end"),
    on: list[str] | None = None,
    right_suffix: str = "_r",
    long_span_buckets: int | None = 64,
) -> DataFrame:
    """Join each point to every interval CONTAINING it (closed bounds).
    A point lives in exactly one bucket, so no pair dedup is needed —
    only the interval side explodes. Same long-interval theta fallback
    (and same ``long_span_buckets=None`` banded-only bypass for
    bounded-span callers) as ``interval_overlap_join``. Interval-side
    non-key columns that clash with point names come back suffixed
    with ``right_suffix`` (same contract as the overlap join)."""
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    on = list(on or [])
    s, e = bounds

    clash = (set(points.columns) & set(intervals.columns)) - set(on)
    renames = {c: c + right_suffix for c in intervals.columns if c in clash}
    intervals = intervals.select(
        *[F.col(c).alias(renames.get(c, c)) for c in intervals.columns]
    )
    s, e = renames.get(s, s), renames.get(e, e)
    contains = (F.col(s) <= F.col(point_col)) & (F.col(point_col) <= F.col(e))

    if long_span_buckets is None:
        i_short, i_long = intervals, None
    else:
        span_buckets = _bucket(F.col(e), bucket_width) - _bucket(
            F.col(s), bucket_width
        )
        i_short = intervals.filter(span_buckets < long_span_buckets)
        i_long = intervals.filter(span_buckets >= long_span_buckets)

    pb = points.withColumn("__bucket", _bucket(F.col(point_col), bucket_width))
    ib = i_short.withColumn(
        "__bucket",
        F.explode(
            F.sequence(_bucket(F.col(s), bucket_width), _bucket(F.col(e), bucket_width))
        ),
    )
    banded = pb.join(ib, on=[*on, "__bucket"]).filter(contains).drop("__bucket")
    if long_span_buckets is None:
        return banded
    if on:
        fallback = points.join(i_long, on=on).filter(contains)
    else:
        # long intervals are the documented-rare side -> broadcast build
        fallback = points.join(F.broadcast(i_long), contains)
    return banded.unionByName(fallback)
