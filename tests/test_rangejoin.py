"""Banded interval joins: equivalence with the naive theta join on
randomized inputs (including long-interval fallback traffic),
exactly-once pair emission, and point containment as a zero-width
interval."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from science_datalake_spark.operators.rangejoin import interval_overlap_join


def _intervals(spark, n, seed, key_card=0, long_frac=0.1, width=1000.0):
    rng = np.random.default_rng(seed)
    start = rng.uniform(0, width, n)
    # mostly short spans around one bucket; a slice of pathological ones
    span = np.where(
        rng.uniform(size=n) < long_frac,
        rng.uniform(width * 0.8, width * 2.0, n),
        rng.uniform(0, 20.0, n),
    )
    rows = [
        (
            int(i),
            (int(rng.integers(key_card)) if key_card else 0),
            float(s),
            float(s + sp),
        )
        for i, (s, sp) in enumerate(zip(start, span))
    ]
    return spark.createDataFrame(rows, "uid LONG, k LONG, start DOUBLE, end DOUBLE")


def _naive_pairs(left_rows, right_rows, keyed):
    out = set()
    for a in left_rows:
        for b in right_rows:
            if keyed and a["k"] != b["k"]:
                continue
            if a["start"] <= b["end"] and b["start"] <= a["end"]:
                out.add((a["uid"], b["uid"]))
    return out


@pytest.mark.parametrize("keyed", [False, True])
def test_overlap_join_matches_naive(spark, keyed):
    left = _intervals(spark, 120, seed=7, key_card=5 if keyed else 0)
    right = _intervals(spark, 90, seed=8, key_card=5 if keyed else 0)
    got = interval_overlap_join(
        left,
        right,
        bucket_width=10.0,
        on=["k"] if keyed else None,
        long_span_buckets=8,  # width*0.8/10 = 80 buckets -> real fallback traffic
    ).select("uid", "uid_r")
    rows = [(r["uid"], r["uid_r"]) for r in got.collect()]
    want = _naive_pairs(left.collect(), right.collect(), keyed)
    assert len(rows) == len(set(rows)), "pair emitted more than once"
    assert set(rows) == want


def test_overlap_join_self_pairs_dedup_pattern(spark):
    """Self-join usage: the uid inequality post-filter leaves each
    unordered pair once and drops self-pairs."""
    df = _intervals(spark, 60, seed=3)
    pairs = (
        interval_overlap_join(df, df, bucket_width=10.0, long_span_buckets=8)
        .filter(F.col("uid") < F.col("uid_r"))
        .select("uid", "uid_r")
        .collect()
    )
    got = {(r["uid"], r["uid_r"]) for r in pairs}
    assert len(pairs) == len(got)
    naive = _naive_pairs(df.collect(), df.collect(), keyed=False)
    assert got == {(a, b) for a, b in naive if a < b}


@pytest.mark.parametrize("self_join", [False, True])
def test_overlap_join_share_scan_result_identical(spark, self_join):
    """share_scan=True (single persisted input feeding all three legs —
    the round-13 scan-dedup) must be row-identical to the unshared plan,
    for both a true self-join (one persist) and two distinct inputs."""
    left = _intervals(spark, 120, seed=7, key_card=5)
    right = left if self_join else _intervals(spark, 90, seed=8, key_card=5)
    kw = dict(bucket_width=10.0, on=["k"], long_span_buckets=8)
    base = {
        (r["uid"], r["uid_r"])
        for r in interval_overlap_join(left, right, **kw).collect()
    }
    shared_df = interval_overlap_join(left, right, share_scan=True, **kw)
    shared = {(r["uid"], r["uid_r"]) for r in shared_df.collect()}
    assert shared == base
    from tests import plan_helpers as plans

    assert "InMemoryTableScan" in plans.physical_plan(shared_df)


@pytest.mark.parametrize("self_join", [True, False])
def test_overlap_join_share_scan_persist_handles(spark, self_join):
    """persist_handles=[] receives the persisted inputs (ONE for a true
    self-join, two for distinct inputs) so callers can unpersist after
    materialization — the r13-advice cache-lifetime escape hatch."""
    left = _intervals(spark, 60, seed=7, key_card=5)
    right = left if self_join else _intervals(spark, 40, seed=8, key_card=5)
    handles = []
    out = interval_overlap_join(
        left,
        right,
        bucket_width=10.0,
        on=["k"],
        long_span_buckets=8,
        share_scan=True,
        persist_handles=handles,
    )
    assert len(handles) == (1 if self_join else 2)
    out.count()
    assert all(h.storageLevel.useMemory for h in handles)
    for h in handles:
        h.unpersist()
    assert not any(h.storageLevel.useMemory for h in handles)


def test_point_in_interval_matches_naive(spark):
    """Point containment is the overlap join with a zero-width left
    interval ``[x, x]``: closed bounds make ``start <= x <= end``."""
    ivals = _intervals(spark, 80, seed=11)
    rng = np.random.default_rng(12)
    pts = spark.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(rng.uniform(0, 1200.0, 200))],
        "pid LONG, x DOUBLE",
    )
    out = interval_overlap_join(
        pts,
        ivals,
        bucket_width=10.0,
        left_bounds=("x", "x"),
        right_bounds=("start", "end"),
        long_span_buckets=8,
    )
    rows = [(r["pid"], r["uid"]) for r in out.collect()]
    want = {
        (p["pid"], a["uid"])
        for p in pts.collect()
        for a in ivals.collect()
        if a["start"] <= p["x"] <= a["end"]
    }
    assert len(rows) == len(set(rows)), "pair emitted more than once"
    assert set(rows) == want and want


def test_point_in_interval_clashing_columns(spark):
    """Point-side columns that collide with the interval's names keep
    their name; the interval's come back suffixed (a shared 'start'
    column must not raise an ambiguous-reference AnalysisException)."""
    pts = spark.createDataFrame(
        [(1, 5.0, "p-meta"), (2, 25.0, "p-meta2")],
        "pid LONG, x DOUBLE, start STRING",  # 'start' clashes on purpose
    )
    ivals = spark.createDataFrame(
        [(100, 0.0, 10.0), (200, 20.0, 30.0)],
        "uid LONG, start DOUBLE, end DOUBLE",
    )
    out = interval_overlap_join(
        pts, ivals, bucket_width=10.0, left_bounds=("x", "x"), right_bounds=("start", "end")
    )
    assert "start_r" in out.columns and "start" in out.columns
    got = {(r["pid"], r["uid"], r["start"], r["start_r"]) for r in out.collect()}
    assert got == {(1, 100, "p-meta", 0.0), (2, 200, "p-meta2", 20.0)}


def test_bucket_width_validation(spark):
    df = _intervals(spark, 5, seed=1)
    with pytest.raises(ValueError, match="bucket_width"):
        interval_overlap_join(df, df, bucket_width=0)


def test_banded_plan_shape(spark):
    """The short×short path must be an EQUI join keyed on the band
    bucket, and nothing in the plan may be a CartesianProduct — the
    long-interval theta fallback plans as BroadcastNestedLoopJoin with
    the rare side as the broadcast build."""
    df = _intervals(spark, 50, seed=5, long_frac=0.0)
    plan = interval_overlap_join(
        df, df, bucket_width=10.0
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "__bucket" in plan  # band key reaches the join


def test_banded_only_bypass_equals_split_path(spark):
    """long_span_buckets=None (banded-only, for bounded-span callers)
    returns exactly the split-path result — the split is a cost guard,
    never a correctness device. Checked including intervals long enough
    to take the fallback branch in the split path."""
    ivals = _intervals(spark, 60, seed=21)  # includes spans > 8 buckets
    got_a = {
        tuple(sorted((r["uid"], r["uid_r"])))
        for r in interval_overlap_join(
            ivals, ivals, bucket_width=10.0, long_span_buckets=8
        ).filter(F.col("uid") < F.col("uid_r")).collect()
    }
    got_b = {
        tuple(sorted((r["uid"], r["uid_r"])))
        for r in interval_overlap_join(
            ivals, ivals, bucket_width=10.0, long_span_buckets=None
        ).filter(F.col("uid") < F.col("uid_r")).collect()
    }
    assert got_a == got_b and got_a


def test_keyed_strategy_matches_banded(spark):
    """strategy='keyed' (shuffled hash join + overlap filter) returns the
    identical pair set as the banded strategy on a keyed input, plans a
    ShuffledHashJoin, and rejects unkeyed use (an unkeyed theta join is
    a cartesian product) and any other strategy name."""
    from tests import plan_helpers as plans

    iv = spark.createDataFrame(
        [(i, i % 3, float(i % 17), float(i % 17 + i % 5)) for i in range(200)],
        "uid LONG, k INT, start DOUBLE, end DOUBLE",
    )
    kw = dict(bucket_width=4.0, on=["k"])
    banded = {
        (r["uid"], r["uid_r"])
        for r in interval_overlap_join(iv, iv, **kw)
        .filter("uid < uid_r")
        .collect()
    }
    keyed_df = interval_overlap_join(iv, iv, strategy="keyed", **kw).filter(
        "uid < uid_r"
    )
    keyed = {(r["uid"], r["uid_r"]) for r in keyed_df.collect()}
    assert keyed == banded and len(keyed) > 0
    assert "ShuffledHashJoin" in plans.physical_plan(keyed_df)
    with pytest.raises(ValueError, match="requires equi keys"):
        interval_overlap_join(iv, iv, bucket_width=4.0, strategy="keyed")
    with pytest.raises(ValueError, match="strategy must be"):
        interval_overlap_join(iv, iv, strategy="nested_loop", **kw)


@pytest.mark.parametrize("strategy", ["banded", "keyed"])
@pytest.mark.parametrize("long_span_buckets", [8, None])
def test_null_keys_and_bounds_never_pair(spark, strategy, long_span_buckets):
    """Equi-join semantics on every path: a NULL key never joins, and a
    NULL bound fails the three-valued overlap predicate, so neither row
    pairs with anything (not even itself) — and the remaining pairs
    equal the naive theta join on the non-NULL rows."""
    rows = [
        (
            i,
            i % 5,
            float((i * 37) % 400),
            float((i * 37) % 400 + (1, 3, 9, 120, 900)[i % 5]),
        )
        for i in range(120)
    ]
    clean = [dict(zip(("uid", "k", "start", "end"), r)) for r in rows]
    rows.append((9001, None, 5.0, 50.0))  # NULL key
    rows.append((9002, 2, None, 50.0))  # NULL bound
    iv = spark.createDataFrame(rows, "uid LONG, k INT, start DOUBLE, end DOUBLE")
    got = [
        (r["uid"], r["uid_r"])
        for r in interval_overlap_join(
            iv,
            iv,
            bucket_width=10.0,
            on=["k"],
            long_span_buckets=long_span_buckets,
            strategy=strategy,
        ).collect()
    ]
    assert len(got) == len(set(got)), "pair emitted more than once"
    assert set(got) == _naive_pairs(clean, clean, keyed=True)
