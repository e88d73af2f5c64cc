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

from science_datalake_spark import plans
from science_datalake_spark.operators.dsir import (
    dsir_log_weights,
    dsir_sample,
    feature_counts,
)

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


def test_model_scorer_matches_join_scorer_and_defaults_unseen(spark, tmp_path):
    """dsir_model_write/read + dsir_score_with_model must reproduce the
    join-based dsir_log_weights on the fitting corpus, and score a doc of
    NEVER-SEEN tokens with the stored smoothed default per token."""
    import math

    from science_datalake_spark.operators.dsir import (
        dsir_log_weights,
        dsir_model_read,
        dsir_model_write,
        dsir_score_with_model,
    )

    raw, target = _df(spark, RAW), _df(spark, TARGET)
    path = str(tmp_path / "dsir_model")
    dsir_model_write(raw, target, "doc_id", "text", path, num_buckets=B, alpha=ALPHA)
    model = dsir_model_read(spark, path, num_buckets=B)
    assert len(model) == B

    want = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(raw, target, "doc_id", "text", B, ALPHA).collect()
    }
    got = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_score_with_model(raw, "doc_id", "text", model).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])

    # unseen vocabulary -> per-token default. With 4-token docs over a
    # 64-bucket space collisions with fitted buckets are possible, so use
    # tokens chosen to land in buckets absent from BOTH corpora.
    fitted = {
        _bucket(t) for d in (*RAW.values(), *TARGET.values()) for t in d.split()
    }
    unseen_tokens = [
        t for t in (f"zzz{i}" for i in range(500)) if _bucket(t) not in fitted
    ][:4]
    assert len(unseen_tokens) == 4
    T = sum(len(t.split()) for t in TARGET.values())
    R = sum(len(t.split()) for t in RAW.values())
    default = (
        math.log(ALPHA) - math.log(T + ALPHA * B)
        - math.log(ALPHA) + math.log(R + ALPHA * B)
    )
    novel = spark.createDataFrame([(99, " ".join(unseen_tokens))], ["doc_id", "text"])
    got99 = dsir_score_with_model(novel, "doc_id", "text", model).collect()[0]
    assert abs(got99["log_weight"] - 4 * default) < 1e-9


def test_model_scorer_runs_unchanged_on_a_stream(spark, tmp_path):
    """The map-only scorer is a stateless projection: an availableNow drain
    over a file stream must produce exactly the batch scores."""
    import json as _json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from science_datalake_spark.operators.dsir import (
        dsir_model_read,
        dsir_model_write,
        dsir_score_with_model,
    )

    raw, target = _df(spark, RAW), _df(spark, TARGET)
    path = str(tmp_path / "model")
    dsir_model_write(raw, target, "doc_id", "text", path, num_buckets=B, alpha=ALPHA)
    model = dsir_model_read(spark, path, num_buckets=B)

    src = tmp_path / "stream_src"
    src.mkdir()
    for i, (k, v) in enumerate(RAW.items()):
        with open(src / f"f{i}.json", "w") as f:
            f.write(_json.dumps({"doc_id": k, "text": v}) + "\n")
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(
        str(src)
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        dsir_score_with_model(stream, "doc_id", "text", model)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r["log_weight"] for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_score_with_model(raw, "doc_id", "text", model).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12
