"""curation.curate / curation_funnel: stage attribution, funnel math,
and the no-per-stage-actions contract."""

from __future__ import annotations

import pyspark.sql.functions as F

from science_datalake_spark.operators.curation import curate, curation_funnel

GOOD = (
    "the study of the data is a good one and the results are in the "
    "paper to read now with more of the same words in it again"
)


def _docs(spark):
    rows = [
        (0, GOOD),                     # kept
        (1, GOOD),                     # exact dup of 0 -> duplicate
        (2, "short text"),             # quality: too_short
        (3, " ".join(f"tok{i}" for i in range(40))),  # quality: low_stopword
        (4, GOOD + " extra tail"),     # kept (distinct text)
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_curate_first_failing_stage_attribution(spark):
    d = _docs(spark)
    out = curate(d, "doc_id", "text")
    by_id = {r["doc_id"]: r["curation_status"] for r in out.collect()}
    assert by_id[0] == "kept"
    assert by_id[1] == "duplicate"
    assert by_id[2] == "quality:too_short"
    assert by_id[3] == "quality:low_stopword"
    assert by_id[4] == "kept"


def test_curate_rejected_rows_never_canonical(spark):
    """A quality-rejected doc sharing text with a survivor must not become
    (or displace) the group canonical: doc 10 is the min id but rejected,
    so the survivors' canonical is the min SURVIVOR id."""
    short = "short text"
    rows = [(10, GOOD), (11, GOOD), (12, GOOD)]
    d = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    # reject doc 10 via a custom gate threshold that only it trips
    out = curate(
        d.withColumn(
            "text",
            F.when(F.col("doc_id") == 10, short).otherwise(F.col("text")),
        ),
        "doc_id",
        "text",
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[10]["curation_status"] == "quality:too_short"
    assert by_id[11]["curation_status"] == "kept"
    assert by_id[11]["canonical_id"] == 11
    assert by_id[12]["curation_status"] == "duplicate"
    assert by_id[12]["canonical_id"] == 11


def test_curate_decontamination_and_split(spark):
    d = _docs(spark)
    eval_docs = spark.createDataFrame([(100, GOOD)], "doc_id LONG, text STRING")
    out = curate(
        d,
        "doc_id",
        "text",
        eval_docs=eval_docs,
        fractions={"train": 0.5, "test": 0.5},
    )
    by_id = {r["doc_id"]: r for r in out.collect()}
    # doc 0 IS the eval doc's text: fully contaminated
    assert by_id[0]["curation_status"] == "contaminated"
    assert by_id[0]["overlap"] == 1.0
    # quality/dup attribution unchanged by later stages
    assert by_id[1]["curation_status"] == "duplicate"
    assert by_id[2]["curation_status"] == "quality:too_short"
    # doc 4 shares most trigrams with eval but has a distinct tail;
    # whatever the flag, its status must be contaminated or kept:<split>
    assert by_id[4]["curation_status"].startswith(("kept:", "contaminated"))
    kept = out.filter(F.col("curation_status").startswith("kept"))
    assert {r["curation_status"] for r in kept.collect()} <= {
        "kept:train",
        "kept:test",
    }


def test_funnel_counts_sum_to_input(spark):
    d = _docs(spark)
    funnel = curation_funnel(curate(d, "doc_id", "text")).collect()
    assert sum(r["n_docs"] for r in funnel) == d.count()
    by_status = {r["curation_status"]: r["n_docs"] for r in funnel}
    assert by_status == {
        "kept": 2,
        "duplicate": 1,
        "quality:too_short": 1,
        "quality:low_stopword": 1,
    }
    # token sums present per bucket
    assert all(r["n_tokens"] > 0 for r in funnel)


def test_curate_is_fully_lazy(spark):
    """The chain must not run jobs at build time (no per-stage actions —
    the funnel's one aggregation is the only scan)."""
    d = _docs(spark)
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    eval_docs = spark.createDataFrame([(100, GOOD)], "doc_id LONG, text STRING")
    curate(
        d,
        "doc_id",
        "text",
        eval_docs=eval_docs,
        fractions={"train": 0.9, "val": 0.05, "test": 0.05},
    )
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert list(before) == list(after)
