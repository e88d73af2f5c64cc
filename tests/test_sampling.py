"""Sampling operators: exact-n and stratified (gold-standard design) —
reproducibility under different partitionings is the key property."""

from __future__ import annotations

import pyspark.sql.functions as F

from science_datalake_spark.catalog import table
from science_datalake_spark.operators.sampling import (
    exact_n_sample,
    similarity_tiers,
    stratified_sample,
)


def test_exact_n_reproducible_across_partitionings(spark, sf_oracle):
    o = table(spark, sf_oracle, "orders")
    s1 = exact_n_sample(o, 100, "o_orderkey", seed=7)
    s2 = exact_n_sample(o.repartition(17), 100, "o_orderkey", seed=7)
    assert s1.count() == 100
    assert s1.select("o_orderkey").exceptAll(s2.select("o_orderkey")).count() == 0
    # different seed → different sample
    s3 = exact_n_sample(o, 100, "o_orderkey", seed=8)
    assert s1.select("o_orderkey").exceptAll(s3.select("o_orderkey")).count() > 0


def test_stratified_quota_per_stratum(spark, sf_oracle):
    o = table(spark, sf_oracle, "orders")
    quotas = {"1-URGENT": 50, "5-LOW": 100, "3-MEDIUM": 25}
    s = stratified_sample(o, "o_orderpriority", quotas, "o_orderkey", seed=7)
    got = {r["o_orderpriority"]: r["n"] for r in s.groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect()}
    assert got == quotas  # unlisted strata excluded (quota 0)


def test_stratified_gold_design(spark):
    """The reference's tiered gold sample: strata from similarity bands,
    fixed counts per tier (evaluate_ontology_alignment.py design)."""
    pairs = spark.range(2000).select(
        F.col("id").alias("pair_id"),
        ((F.col("id") % 100) / 100.0 + 0.005).alias("similarity"),
    )
    tiered = pairs.withColumn("tier", similarity_tiers(F.col("similarity")))
    gold = stratified_sample(
        tiered.filter(F.col("tier") != "below"),
        "tier",
        {"exact": 5, "high": 10, "mid": 10, "borderline": 5},
        "pair_id",
        seed=42,
    )
    got = {r["tier"]: r["n"] for r in gold.groupBy("tier").agg(F.count("*").alias("n")).collect()}
    assert got == {"exact": 5, "high": 10, "mid": 10, "borderline": 5}
    # every sampled pair respects its tier's similarity band
    bad = gold.filter(
        ((F.col("tier") == "exact") & (F.col("similarity") < 0.95))
        | ((F.col("tier") == "borderline") & (F.col("similarity") >= 0.75))
    ).count()
    assert bad == 0


def test_weighted_sample_reproducible_and_take_ordered(spark, sf_oracle):
    from science_datalake_spark.operators.sampling import weighted_sample
    from tests import plan_helpers as plans

    o = table(spark, sf_oracle, "orders").withColumn(
        "w", (F.col("o_totalprice") / 100.0)
    )
    s1 = weighted_sample(o, 100, "o_orderkey", "w", seed=7)
    s2 = weighted_sample(o.repartition(17), 100, "o_orderkey", "w", seed=7)
    assert s1.count() == 100
    assert s1.select("o_orderkey").exceptAll(s2.select("o_orderkey")).count() == 0
    # map-only + TakeOrderedAndProject: zero shuffles
    assert plans.is_take_ordered(s1), plans.physical_plan(s1)
    assert plans.count_exchanges(s1) == 0, plans.physical_plan(s1)


def test_weighted_sample_proportional_to_weight(spark):
    """One row carries ~91% of the total mass; across 40 seeds it must be
    in a 10-of-100 sample essentially always (A-ES inclusion probability
    for the heavy row is 1 - O(1e-4) here)."""
    from science_datalake_spark.operators.sampling import weighted_sample

    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 0, 1000.0).otherwise(1.0).alias("w"),
    )
    hits = 0
    for seed in range(40):
        kept = {r["k"] for r in weighted_sample(df, 10, "k", "w", seed=seed).collect()}
        assert len(kept) == 10
        hits += 0 in kept
    assert hits >= 38, hits


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from science_datalake_spark.operators.sampling import weighted_sample

    df = spark.range(20).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 10, -1.0)
        .when(F.col("id") < 15, 0.0)
        .otherwise(1.0)
        .alias("w"),
    )
    kept = {r["k"] for r in weighted_sample(df, 20, "k", "w", seed=1).collect()}
    assert kept == set(range(15, 20))


def test_weighted_stratified_quota_and_weighting(spark):
    """Exactly n per stratum; within a stratum the heavy row is drawn
    essentially always (same A-ES argument as the global sampler)."""
    from science_datalake_spark.operators.sampling import weighted_stratified_sample

    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 100, "a").otherwise("b").alias("s"),
        F.when(F.col("id") % 100 == 0, 1000.0).otherwise(1.0).alias("w"),
    )
    hits_a = hits_b = 0
    for seed in range(20):
        got = weighted_stratified_sample(df, "s", 10, "k", "w", seed=seed).collect()
        by_s = {}
        for r in got:
            by_s.setdefault(r["s"], set()).add(r["k"])
        assert len(by_s["a"]) == 10 and len(by_s["b"]) == 10
        hits_a += 0 in by_s["a"]
        hits_b += 100 in by_s["b"]
    assert hits_a >= 19 and hits_b >= 19, (hits_a, hits_b)
