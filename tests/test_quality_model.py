"""quality_model: the hashed-ngram logistic quality classifier — class
separation on held-out docs, map-only scoring plan, decision-level
determinism."""

from __future__ import annotations

import pyspark.sql.functions as F

from science_datalake_spark.operators.quality_model import (
    score_quality,
    train_quality_model,
)

_GOOD_WORDS = (
    "the study of the results and the data in this paper is a careful "
    "analysis of the methods and the findings are clear to read"
).split()
_SPAM_WORDS = (
    "buy cheap now click here free winner casino bonus xxx deal "
    "discount offer win cash prize urgent claim"
).split()


def _labeled(spark, n=60):
    rows = []
    for i in range(n):
        good = " ".join(_GOOD_WORDS[(i + j) % len(_GOOD_WORDS)] for j in range(25))
        spam = " ".join(_SPAM_WORDS[(i + j) % len(_SPAM_WORDS)] for j in range(25))
        rows.append((2 * i, good, 1))
        rows.append((2 * i + 1, spam, 0))
    return spark.createDataFrame(rows, "doc_id LONG, text STRING, label INT")


def test_quality_model_separates_heldout_classes(spark):
    d = _labeled(spark)
    train = d.filter(F.col("doc_id") % 10 != 9)
    test = d.filter(F.col("doc_id") % 10 == 9)
    model = train_quality_model(train, "label", num_features=1 << 12)
    scored = score_quality(model, test, keep_threshold=0.5).collect()
    assert len(scored) > 0
    for r in scored:
        if r["label"] == 1:
            assert r["quality_prob"] > 0.5 and r["model_keep"], r
        else:
            assert r["quality_prob"] < 0.5 and not r["model_keep"], r


def test_quality_model_scores_after_observed_write(spark, tmp_path):
    """A verified write observes its row count, which leaves the session
    unserializable on Spark 4.1; a model trained afterwards must still
    score (it must not carry the session into task closures)."""
    from science_datalake_spark.sources.sinks import write_parquet

    assert write_parquet(spark.range(3), str(tmp_path / "w.parquet")) == 3
    d = _labeled(spark, n=20)
    model = train_quality_model(d, "label", num_features=1 << 10)
    assert len(score_quality(model, d).collect()) == 40


def test_quality_scoring_is_map_only(spark):
    """Scoring must add no join/exchange: the model rides the closure and
    every stage is a narrow transform — the 100 TB contract."""
    d = _labeled(spark, n=20)
    model = train_quality_model(d, "label", num_features=1 << 12)
    plan = (
        score_quality(model, d.select("doc_id", "text"))
        ._jdf.queryExecution()
        .sparkPlan()
        .toString()
    )
    assert "Join" not in plan and "Exchange" not in plan, plan


def test_quality_decisions_deterministic_across_partitionings(spark):
    d = _labeled(spark, n=40)
    model = train_quality_model(d, "label", num_features=1 << 12)
    a = {
        (r["doc_id"], r["model_keep"])
        for r in score_quality(model, d, keep_threshold=0.5).collect()
    }
    b = {
        (r["doc_id"], r["model_keep"])
        for r in score_quality(model, d.repartition(7), keep_threshold=0.5).collect()
    }
    assert a == b


def test_quality_model_save_load_round_trip(spark, tmp_path):
    """Persistence round-trips BOTH the fitted coefficients and the
    featurization config (round-8 ADVICE: a dynamic attribute on the
    Spark ML model was lost across save/load) — the reloaded model must
    score identically."""
    from science_datalake_spark.operators.quality_model import QualityModel

    d = _labeled(spark, n=20)
    model = train_quality_model(d, "label", num_features=1 << 12)
    path = str(tmp_path / "qm")
    model.save(path)
    back = QualityModel.load(spark, path)
    assert (back.text_col, back.num_features, back.ngram) == (
        model.text_col, model.num_features, model.ngram,
    )
    a = {(r["doc_id"], r["quality_prob"]) for r in score_quality(model, d).collect()}
    b = {(r["doc_id"], r["quality_prob"]) for r in score_quality(back, d).collect()}
    assert a == b


def test_quality_model_unigram_only_path(spark):
    d = _labeled(spark, n=20)
    model = train_quality_model(d, "label", num_features=1 << 12, ngram=1)
    scored = score_quality(model, d).select("doc_id", "quality_prob").collect()
    assert len(scored) == 40 and all(r["quality_prob"] is not None for r in scored)
