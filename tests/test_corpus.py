"""Corpus composition: token-budget mixing semantics and decontamination
edge cases."""

from __future__ import annotations

import pyspark.sql.functions as F

from science_datalake_spark.operators.corpus import decontaminate, token_budget_mix


def _docs(spark):
    rows = []
    for i in range(30):
        src = f"s{i % 3}"
        rows.append((i, src, " ".join(["tok"] * 10)))  # 10 tokens each
    return spark.createDataFrame(rows, "doc_id INT, source STRING, text STRING")


def test_token_budget_mix_respects_shares(spark):
    d = _docs(spark)
    mix = token_budget_mix(
        d, "source", {"s0": 0.5, "s1": 0.5}, budget_tokens=60, id_col="doc_id"
    ).cache()
    per_src = {r["source"]: r for r in mix.groupBy("source").agg(
        F.count("*").alias("n"), F.sum("n_tokens").alias("tok")).collect()}
    # share = 30 tokens = 3 docs each; boundary rule allows the doc whose
    # PRIOR cumsum is < share, so exactly 3 docs of 10 tokens fit
    assert per_src["s0"]["n"] == 3 and per_src["s0"]["tok"] == 30
    assert per_src["s1"]["n"] == 3 and per_src["s1"]["tok"] == 30
    assert "s2" not in per_src  # unweighted source dropped


def test_token_budget_mix_deterministic_across_partitionings(spark):
    d = _docs(spark)
    a = token_budget_mix(d, "source", {"s0": 0.4}, 100, "doc_id")
    b = token_budget_mix(d.repartition(7), "source", {"s0": 0.4}, 100, "doc_id")
    assert {r["doc_id"] for r in a.collect()} == {r["doc_id"] for r in b.collect()}


def test_token_budget_mix_overshoot_bounded(spark):
    """Budget not divisible by doc size: at most one overshooting doc."""
    d = _docs(spark)
    mix = token_budget_mix(d, "source", {"s0": 1.0}, budget_tokens=25, id_col="doc_id")
    got = mix.agg(F.sum("n_tokens")).first()[0]
    assert 25 <= got < 25 + 10  # last doc straddles the boundary


def test_decontaminate_flags_overlapping_docs(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),  # fully inside eval doc
            (2, "zeta eta theta iota kappa"),  # disjoint from eval
            (3, "alpha beta gamma unrelated words here now"),  # partial
            (4, "xy"),  # too short for trigrams
        ],
        "doc_id INT, text STRING",
    )
    eval_docs = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta-never")],
        "doc_id INT, text STRING",
    )
    out = {r["doc_id"]: r for r in decontaminate(corpus, eval_docs, "doc_id").collect()}
    assert out[1]["is_contaminated"] and out[1]["overlap"] == 1.0
    assert not out[2]["is_contaminated"] and out[2]["overlap"] == 0.0
    assert 0.0 < out[3]["overlap"] < 1.0
    assert out[4]["n_shingles"] == 0 and not out[4]["is_contaminated"]
    assert set(out) == {1, 2, 3, 4}  # every corpus doc gets a row


def test_temperature_mix_weights_and_mix(spark):
    """alpha=1 reproduces natural proportions; alpha=0 is uniform;
    alpha=0.5 boosts the low-resource source; the end-to-end mix
    respects the derived thresholds exactly (python Decimal mirror)."""
    from decimal import Decimal

    from science_datalake_spark.operators.corpus import (
        temperature_mix,
        temperature_mix_weights,
    )

    rows = []
    for i in range(90):
        rows.append((i, "big", "w " * 10))        # 900 tokens
    for i in range(100, 110):
        rows.append((i, "small", "w " * 10))      # 100 tokens
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")

    w1 = temperature_mix_weights(df, "source", alpha=1.0)
    assert w1 == {"big": 0.9, "small": 0.1}
    w0 = temperature_mix_weights(df, "source", alpha=0.0)
    assert w0 == {"big": 0.5, "small": 0.5}
    wh = temperature_mix_weights(df, "source", alpha=0.5)
    assert wh["small"] > 0.1 and wh["big"] < 0.9
    assert abs(sum(wh.values()) - 1.0) < 2e-3  # grid rounding only

    mix = temperature_mix(df, "source", alpha=0.5, budget_tokens=500, id_col="doc_id")
    got = mix.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect()
    picked = {r["source"]: r["t"] for r in got}
    for s, t in picked.items():
        thr = int(Decimal(str(wh[s])) * 500)
        # overshoot by at most one 10-token document
        assert t < thr + 10 + 1, (s, t, thr)


# ---------------------------------------------------------------------------
# leakage_safe_split (round 8)
# ---------------------------------------------------------------------------


def _split_docs(spark):
    # 12 docs; near-dup pairs chain {0,1,2}, {5,6}; rest singleton
    rows = [(i, f"text {i}") for i in range(12)]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_leakage_safe_split_pairs_keep_clusters_together(spark):
    """A caller with near-dup PAIRS labels them with connected components
    and splits on the labels through ``cluster_col``."""
    from science_datalake_spark.operators.corpus import leakage_safe_split
    from science_datalake_spark.operators.graph import connected_components_star

    d = _split_docs(spark)
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "src LONG, dst LONG"
    )
    labels = connected_components_star(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster")
    )
    out = leakage_safe_split(
        d.join(labels, "doc_id", "left"),
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        cluster_col="cluster",
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    # connected components labeled by min member; unpaired fall back to self
    assert by_id[0]["split_cluster"] == by_id[1]["split_cluster"] == by_id[2]["split_cluster"] == 0
    assert by_id[5]["split_cluster"] == by_id[6]["split_cluster"] == 5
    assert by_id[7]["split_cluster"] == 7
    # the leakage guarantee: one split per cluster
    assert len({by_id[i]["split"] for i in (0, 1, 2)}) == 1
    assert len({by_id[i]["split"] for i in (5, 6)}) == 1
    assert {r["split"] for r in out} <= {"train", "val", "test"}


def test_leakage_safe_split_deterministic_across_partitionings(spark):
    from science_datalake_spark.operators.corpus import leakage_safe_split

    d = _split_docs(spark)
    fr = {"train": 0.9, "val": 0.05, "test": 0.05}
    a = {(r["doc_id"], r["split"]) for r in leakage_safe_split(d, "doc_id", fr).collect()}
    b = {
        (r["doc_id"], r["split"])
        for r in leakage_safe_split(d.repartition(7), "doc_id", fr).collect()
    }
    assert a == b


def test_leakage_safe_split_fractions_approx(spark):
    from science_datalake_spark.operators.corpus import leakage_safe_split

    d = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = (
        leakage_safe_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("split")
        .count()
        .collect()
    )
    n = {r["split"]: r["count"] for r in out}
    assert sum(n.values()) == 2000
    assert abs(n["train"] / 2000 - 0.8) < 0.05
    assert abs(n.get("val", 0) / 2000 - 0.1) < 0.03
    assert abs(n.get("test", 0) / 2000 - 0.1) < 0.03


def test_leakage_safe_split_cluster_col_and_u_expr(spark):
    import pyspark.sql.functions as F

    from science_datalake_spark.operators.corpus import leakage_safe_split

    d = _split_docs(spark).withColumn(
        "cl", F.when(F.col("doc_id") < 6, 0).otherwise(F.lit(None))
    )
    out = leakage_safe_split(
        d,
        "doc_id",
        {"train": 0.5, "test": 0.5},
        cluster_col="cl",
        u_expr=(F.col("split_cluster") % 2) / F.lit(2.0),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    # explicit cluster labels honored; NULL labels fall back to own id
    for i in range(6):
        assert by_id[i]["split_cluster"] == 0 and by_id[i]["split"] == "train"
    for i in range(6, 12):
        assert by_id[i]["split_cluster"] == i
        assert by_id[i]["split"] == ("train" if i % 2 == 0 else "test")


def test_leakage_safe_split_rejects_bad_fractions(spark):
    import pytest

    from science_datalake_spark.operators.corpus import leakage_safe_split

    d = _split_docs(spark)
    with pytest.raises(ValueError, match="sum to 1"):
        leakage_safe_split(d, "doc_id", {"train": 0.5, "test": 0.2})


# ---------------------------------------------------------------------------
# token_budget_mix_upsampled (round 8)
# ---------------------------------------------------------------------------


def _mix_docs(spark):
    # source A: 5 docs x 10 tokens = 50 available; B: 10 docs x 10 = 100
    rows = [(i, "A", " ".join(["tok"] * 10)) for i in range(5)]
    rows += [(100 + i, "B", " ".join(["tok"] * 10)) for i in range(10)]
    return spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")


def test_upsampled_mix_replicates_undersized_sources(spark):
    from science_datalake_spark.operators.corpus import token_budget_mix_upsampled

    d = _mix_docs(spark)
    # A's share: 0.6 * 200 = 120 > 50 available -> 3 epochs (ceil(120/50));
    # B's share: 0.4 * 200 = 80 < 100 available -> 1 epoch
    out = token_budget_mix_upsampled(
        d, "source", {"A": 0.6, "B": 0.4}, 200, "doc_id"
    )
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    # boundary rule: kept while cum_before < share -> overshoot <= 1 doc
    tok_a = sum(r["n_tokens"] for r in by_src["A"])
    tok_b = sum(r["n_tokens"] for r in by_src["B"])
    assert 120 <= tok_a < 120 + 10 + 1, tok_a
    assert 80 <= tok_b < 80 + 10 + 1, tok_b
    # A needed replication: epochs 0 and 1 complete (5 docs each), epoch 2 partial
    epochs_a = sorted(r["epoch"] for r in by_src["A"])
    assert epochs_a.count(0) == 5 and epochs_a.count(1) == 5
    assert epochs_a.count(2) == len(by_src["A"]) - 10 > 0
    # B never replicated
    assert {r["epoch"] for r in by_src["B"]} == {0}
    # full epochs drain before the partial one: every epoch-2 row's
    # cum_before covers the two full passes
    assert all(r["cum_tokens_before"] >= 100 for r in by_src["A"] if r["epoch"] == 2)


def test_upsampled_mix_deterministic_and_degrades_to_plain(spark):
    from science_datalake_spark.operators.corpus import (
        token_budget_mix,
        token_budget_mix_upsampled,
    )

    d = _mix_docs(spark)
    fr = {"A": 0.2, "B": 0.8}
    # shares (20, 80) both within available -> identical to the plain mixer
    up = token_budget_mix_upsampled(d, "source", fr, 100, "doc_id")
    plain = token_budget_mix(d, "source", fr, 100, "doc_id")
    a = sorted((r["doc_id"], r["cum_tokens_before"]) for r in up.collect())
    b = sorted((r["doc_id"], r["cum_tokens_before"]) for r in plain.collect())
    assert a == b
    assert {r["epoch"] for r in up.collect()} == {0}
    # deterministic across partitionings
    c = sorted(
        (r["doc_id"], r["epoch"])
        for r in token_budget_mix_upsampled(
            d.repartition(7), "source", {"A": 0.6, "B": 0.4}, 200, "doc_id"
        ).collect()
    )
    e = sorted(
        (r["doc_id"], r["epoch"])
        for r in token_budget_mix_upsampled(
            d, "source", {"A": 0.6, "B": 0.4}, 200, "doc_id"
        ).collect()
    )
    assert c == e


# --- shard_shuffle (round 9) -------------------------------------------------


def test_shard_shuffle_deterministic_and_complete(spark):
    from science_datalake_spark.operators.corpus import shard_shuffle

    d = _docs(spark)
    a = shard_shuffle(d, "doc_id", seed=7).collect()
    b = shard_shuffle(d.repartition(5), "doc_id", seed=7).collect()
    assert {(r["doc_id"], r["shard"], r["order_key"]) for r in a} == {
        (r["doc_id"], r["shard"], r["order_key"]) for r in b
    }
    # every row kept, shard is the order key's first hex char
    assert len(a) == 30
    assert all(r["shard"] == r["order_key"][0] for r in a)


def test_shard_shuffle_seed_changes_order_not_membership(spark):
    from science_datalake_spark.operators.corpus import shard_shuffle

    d = _docs(spark)
    s1 = {r["doc_id"]: r["order_key"] for r in shard_shuffle(d, "doc_id", seed=1).collect()}
    s2 = {r["doc_id"]: r["order_key"] for r in shard_shuffle(d, "doc_id", seed=2).collect()}
    assert set(s1) == set(s2)  # same documents
    assert s1 != s2  # different permutation


def test_shard_shuffle_is_map_only(spark):
    """No exchange is introduced: the plan must be scan+project only."""
    from science_datalake_spark.operators.corpus import shard_shuffle

    d = _docs(spark)
    plan = shard_shuffle(d, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# --- snapshot_diff (round 9) ---------------------------------------------------


def test_snapshot_diff_classifies_all_states(spark):
    from science_datalake_spark.operators.corpus import snapshot_diff

    old = spark.createDataFrame(
        [(1, "s0", "fpA"), (2, "s0", "fpB"), (3, "s1", "fpC")],
        "doc_id INT, source STRING, fp STRING",
    )
    new = spark.createDataFrame(
        [(2, "s0", "fpB"), (3, "s1", "fpC2"), (4, "s1", "fpD")],
        "doc_id INT, source STRING, fp STRING",
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new, "doc_id", "fp").collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_snapshot_diff_single_join(spark):
    from tests import plan_helpers as plans
    from science_datalake_spark.operators.corpus import snapshot_diff

    old = spark.createDataFrame([(1, "s", "a")], "doc_id INT, source STRING, fp STRING")
    new = spark.createDataFrame([(1, "s", "a")], "doc_id INT, source STRING, fp STRING")
    out = snapshot_diff(old, new, "doc_id", "fp")
    p = plans.physical_plan(out)
    # formatted plans repeat node names in the detail section — count the
    # numbered detail entries, one per physical node
    import re

    joins = re.findall(r"^\(\d+\) \S*Join", p, flags=re.M)
    assert len(joins) == 1, p
    # source rides along coalesced — no second join to recover attributes
    assert "source" in out.columns and "status" in out.columns


def test_containment_catches_subdocument_dup(spark):
    """A small doc fully quoted inside a much larger one: containment 1.0
    while Jaccard stays low — the case Jaccard-threshold dedup misses."""
    from science_datalake_spark.operators.dedup import ngram_containment_pairs

    small = "alpha beta gamma delta epsilon"
    big = small + " " + " ".join(f"tok{i} filler{i} pad{i}" for i in range(30))
    d = spark.createDataFrame([(1, small), (2, big)], "doc_id INT, text STRING")
    row = ngram_containment_pairs(d, "doc_id", "text", n=3).collect()[0]
    assert row["containment"] == 1.0
    assert row["jaccard"] < 0.2


def test_snapshot_diff_null_fingerprint_transition_is_changed(spark):
    """Null-SAFETY (round-9 ADVICE / verdict item 4): a fingerprint
    transitioning NULL→value (or value→NULL) across snapshots is a real
    content change. With a plain `!=` the comparison is NULL and falls
    through to `unchanged`; ~eqNullSafe classifies it `changed`.
    NULL==NULL stays `unchanged`."""
    from science_datalake_spark.operators.corpus import snapshot_diff

    old = spark.createDataFrame(
        [(1, "s", None), (2, "s", "fpB"), (3, "s", None)],
        "doc_id INT, source STRING, fp STRING",
    )
    new = spark.createDataFrame(
        [(1, "s", "fpA"), (2, "s", None), (3, "s", None)],
        "doc_id INT, source STRING, fp STRING",
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new, "doc_id", "fp").collect()}
    assert got == {1: "changed", 2: "changed", 3: "unchanged"}
