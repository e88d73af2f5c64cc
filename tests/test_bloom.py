"""Bloom membership tier: structural no-false-negatives, bounded false
positives, exactness of the verified incremental composition, and the
map-only probe plan."""

from __future__ import annotations

import pyspark.sql.functions as F

from science_datalake_spark.catalog import table
from science_datalake_spark.operators.bloom import (
    bloom_build,
    bloom_might_contain,
    incremental_new_docs,
)


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    members = spark.createDataFrame(
        [(f"member-{i}",) for i in range(2000)], "fp STRING"
    )
    others = spark.createDataFrame(
        [(f"other-{i}",) for i in range(2000)], "fp STRING"
    )
    model = bloom_build(members, "fp", num_bits=1 << 16, num_hashes=5)
    assert model.n_items == 2000
    # every inserted key MUST test positive (structural guarantee)
    hits = bloom_might_contain(members, "fp", model).filter("might_contain")
    assert hits.count() == 2000
    # disjoint keys: false positives bounded near the theoretical fpp
    fp = bloom_might_contain(others, "fp", model).filter("might_contain").count()
    assert fp / 2000 <= max(5 * model.expected_fpp(), 0.02), (
        fp,
        model.expected_fpp(),
    )


def test_bloom_null_probes_false(spark):
    members = spark.createDataFrame([("a",), ("b",)], "fp STRING")
    model = bloom_build(members, "fp", num_bits=64 * 4, num_hashes=3)
    probe = spark.createDataFrame([("a",), (None,)], "fp STRING")
    got = {r["fp"]: r["might_contain"] for r in bloom_might_contain(probe, "fp", model).collect()}
    assert got["a"] is True and got[None] is False


def test_bloom_probe_is_map_only(spark):
    from tests import plan_helpers as plans

    members = spark.createDataFrame([("x",)], "fp STRING")
    model = bloom_build(members, "fp", num_bits=64 * 16, num_hashes=4)
    probe = spark.createDataFrame([("x",), ("y",)], "fp STRING")
    plan = plans.physical_plan(bloom_might_contain(probe, "fp", model))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_incremental_new_docs_equals_exact_anti_join(spark, sf_oracle):
    from science_datalake_spark.operators import textops as T

    d = table(spark, sf_oracle, "documents").select("doc_id", "source", "text")
    prior = d.filter(F.col("doc_id") % 7 != 0).withColumn(
        "fp", T.fingerprint(F.col("text"))
    )
    batch = d.withColumn("fp", T.fingerprint(F.col("text")))
    got = {
        r["doc_id"]
        for r in incremental_new_docs(batch, prior, "fp").select("doc_id").collect()
    }
    want = {
        r["doc_id"]
        for r in batch.join(
            prior.select("fp").distinct(), "fp", "left_anti"
        ).select("doc_id").collect()
    }
    assert got == want and got  # identical, and non-empty
    # the K-copy crawl shape: some re-crawled docs duplicate retained text
    assert len(got) < batch.count()


def test_incremental_null_fingerprint_is_new(spark):
    prior = spark.createDataFrame([(1, "a")], "doc_id INT, fp STRING")
    batch = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "doc_id INT, fp STRING"
    )
    got = {r["doc_id"] for r in incremental_new_docs(batch, prior, "fp").collect()}
    # 1 is a prior dup; 2 genuinely new; 3 has NULL fp -> new (anti-join
    # semantics: NULL never equals)
    assert got == {2, 3}


def test_bloom_size_for_math():
    from science_datalake_spark.operators.bloom import bloom_size_for

    # classic numbers: 1% fpp needs ~9.585 bits/key and k=7
    m, k = bloom_size_for(1_000_000, 0.01)
    assert m % 64 == 0
    assert 9_500_000 < m < 9_700_000
    assert k == 7
    # the sized filter actually hits its target (theoretical fpp <= target
    # with a little rounding headroom) across scales, incl. 10x fixtures
    import numpy as np

    for n in (428, 4_280, 42_800, 10_000_000_000):
        m, k = bloom_size_for(n, 0.01)
        fpp = float((1.0 - np.exp(-k * n / m)) ** k)
        assert fpp <= 0.0105, (n, m, k, fpp)
    # degenerate inputs stay sane
    m, k = bloom_size_for(0, 0.5)
    assert m >= 64 and k >= 1


def test_incremental_autosizes_from_prior(spark):
    from science_datalake_spark.operators.bloom import (
        bloom_size_for,
        incremental_new_docs,
    )

    prior = spark.range(0, 500).selectExpr("CAST(id AS STRING) AS fp")
    batch = spark.range(0, 600).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS fp"
    )
    got = {r["doc_id"] for r in incremental_new_docs(batch, prior, "fp").collect()}
    assert got == set(range(500, 600))
    # the auto-sized geometry is the bloom_size_for one
    m, k = bloom_size_for(500, 0.01)
    assert m % 64 == 0 and k >= 1
