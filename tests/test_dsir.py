"""DSIR importance resampling (operators/dsir.py): the Spark log weights
must replicate a pure-Python mirror of the published recipe bit-for-bit
(same md5 bucket hash, same smoothed four-term log ratio), target-like
documents must outrank off-target ones, and the plan must keep the ratio
relation on a broadcast with only the per-doc sum as a data-sized shuffle.
"""

from __future__ import annotations

import hashlib
import math

import pytest

import pyspark.sql.functions as F

from science_datalake_spark.operators.dsir import (
    dsir_log_weights,
    dsir_sample,
    feature_counts,
)
from tests import plan_helpers as plans

B = 64
ALPHA = 0.5


def _bucket(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % B


def _mirror_log_weights(raw: dict[int, str], target: dict[int, str]) -> dict[int, float]:
    def counts(docs):
        c: dict[int, int] = {}
        for text in docs.values():
            for tok in text.strip().split():
                b = _bucket(tok)
                c[b] = c.get(b, 0) + 1
        return c

    tc, rc = counts(target), counts(raw)
    T, R = sum(tc.values()), sum(rc.values())
    out = {}
    for doc_id, text in raw.items():
        s = 0.0
        for tok in text.strip().split():
            b = _bucket(tok)
            s += (
                math.log(tc.get(b, 0) + ALPHA)
                - math.log(T + ALPHA * B)
                - math.log(rc.get(b, 0) + ALPHA)
                + math.log(R + ALPHA * B)
            )
        out[doc_id] = s
    return out


RAW = {
    1: "alpha beta gamma delta",
    2: "epsilon zeta eta theta",
    3: "alpha alpha beta beta",
    4: "omega psi chi phi",
}
TARGET = {
    10: "alpha beta alpha gamma",
    11: "beta gamma delta alpha",
}


def _df(spark, docs):
    return spark.createDataFrame(
        [(k, v) for k, v in docs.items()], ["doc_id", "text"]
    )


def test_log_weights_match_pure_python_mirror(spark):
    raw, target = _df(spark, RAW), _df(spark, TARGET)
    rows = dsir_log_weights(raw, target, "doc_id", "text", B, ALPHA).collect()
    got = {r["doc_id"]: r["log_weight"] for r in rows}
    want = _mirror_log_weights(RAW, TARGET)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
    assert {r["doc_id"]: r["n_tokens"] for r in rows} == {
        k: len(v.split()) for k, v in RAW.items()
    }


def test_log_weights_persist_mode_matches_checkpoint_mode(spark):
    """persist_tokens="persist" (the executor-churn-safe recomputable
    materialization) must be result-identical to the default lazy
    localCheckpoint."""
    raw, target = _df(spark, RAW), _df(spark, TARGET)
    base = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(raw, target, "doc_id", "text", B, ALPHA).collect()
    }
    got = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(
            raw,
            target,
            "doc_id",
            "text",
            B,
            ALPHA,
            persist_tokens="persist",
        ).collect()
    }
    assert got == base
    # any other string would silently fall through to the checkpoint branch,
    # defeating the churn-safe mode the caller asked for (r13 advice)
    with pytest.raises(ValueError, match="persist_tokens"):
        dsir_log_weights(
            raw, target, "doc_id", "text", B, ALPHA, persist_tokens="Persist"
        )


def test_target_vocabulary_docs_outrank_disjoint_docs(spark):
    raw, target = _df(spark, RAW), _df(spark, TARGET)
    w = _mirror_log_weights(RAW, TARGET)
    # docs 1 and 3 are drawn from the target vocabulary; 2 and 4 are disjoint
    assert min(w[1], w[3]) > max(w[2], w[4])
    sample = dsir_sample(raw, target, "doc_id", "text", n=2, num_buckets=B)
    plan = plans.physical_plan(sample)
    assert "BroadcastHashJoin" in plan, plan  # ratio relation rides a broadcast
    assert plans.is_take_ordered(sample), plan


def test_feature_counts_bounded_by_num_buckets(spark):
    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok"), (F.col("id") % 97).cast("string")).alias("text"),
    )
    fc = feature_counts(df, "doc_id", "text", 16)
    assert fc.count() <= 16
    total = fc.agg(F.sum("__ct").alias("s")).collect()[0]["s"]
    assert total == 500


def test_gumbel_sample_varies_with_seed_but_is_deterministic(spark):
    raw, target = _df(spark, RAW), _df(spark, TARGET)
    s1 = {r["doc_id"] for r in dsir_sample(raw, target, "doc_id", "text", 2, B, seed=1).collect()}
    s1b = {r["doc_id"] for r in dsir_sample(raw, target, "doc_id", "text", 2, B, seed=1).collect()}
    assert s1 == s1b
    seen = set()
    for seed in range(8):
        seen.update(
            r["doc_id"]
            for r in dsir_sample(raw, target, "doc_id", "text", 2, B, seed=seed).collect()
        )
    # softmax sampling with noise explores beyond the argmax pair
    assert len(seen) >= 3, seen
