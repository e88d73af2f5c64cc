"""Operator-level tests: skew-salted aggregation, partitioned/clustered
writes with pruning, windows, fuzzy-join guard behavior."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from science_datalake_spark import plans
from science_datalake_spark.catalog import table
from science_datalake_spark.operators.linkage import fuzzy_label_join, xref_bridge_join
from science_datalake_spark.operators.skew import salted_aggregate
from science_datalake_spark.operators.windows import top1_per_key
from science_datalake_spark.sources.sinks import write_parquet_partitioned


def test_salted_aggregate_matches_plain(spark, sf_oracle):
    li = table(spark, sf_oracle, "lineitem")
    plain = (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").alias("sum_l_quantity"),
            F.min("l_extendedprice").alias("min_l_extendedprice"),
            F.max("l_extendedprice").alias("max_l_extendedprice"),
        )
    )
    salted = salted_aggregate(
        li,
        keys=["l_returnflag"],
        sums=["l_quantity"],
        mins=["l_extendedprice"],
        maxs=["l_extendedprice"],
        salt_buckets=8,
    )
    p = {r["l_returnflag"]: r.asDict() for r in plain.collect()}
    s = {r["l_returnflag"]: r.asDict() for r in salted.collect()}
    assert p.keys() == s.keys()
    for k in p:
        assert p[k]["n"] == s[k]["n"]
        assert abs(p[k]["sum_l_quantity"] - s[k]["sum_l_quantity"]) < 1e-6
        assert p[k]["min_l_extendedprice"] == s[k]["min_l_extendedprice"]
        assert p[k]["max_l_extendedprice"] == s[k]["max_l_extendedprice"]


def test_partitioned_write_prunes(spark, sf_oracle, tmp_path):
    o = table(spark, sf_oracle, "orders").withColumn("order_year", F.year("o_orderdate"))
    out = str(tmp_path / "orders_by_year")
    write_parquet_partitioned(o, out, ["order_year"], cluster_cols=["o_custkey"])
    years = [d for d in os.listdir(out) if d.startswith("order_year=")]
    assert len(years) >= 3
    read = spark.read.parquet(out).filter(F.col("order_year") == 1997)
    plan = plans.physical_plan(read)
    assert "PartitionFilters: [isnotnull(order_year" in plan, plan
    assert read.count() == o.filter(F.col("order_year") == 1997).count()


def test_fuzzy_join_guard_degrades_to_exact(spark):
    left = spark.createDataFrame([("alpha",), ("beta",)], "name STRING")
    right = spark.createDataFrame(
        [("alpha",), ("ALPHA",), ("alphaa",), ("gamma",)], "label STRING"
    )
    fuzzy = fuzzy_label_join(left, right, "name", "label", threshold=0.9)
    assert fuzzy.count() == 3  # alpha≈alpha, ALPHA, alphaa
    guarded = fuzzy_label_join(left, right, "name", "label", threshold=0.9, max_right_rows=2)
    got = guarded.select("name", "label", "similarity").collect()
    assert all(r["similarity"] == 1.0 for r in got)  # exact fallback
    assert {(r["name"], r["label"]) for r in got} == {("alpha", "alpha"), ("alpha", "ALPHA")}


def test_fuzzy_join_guard_precomputed_count(spark):
    """right_count bypasses the probe job and still drives the guard."""
    left = spark.createDataFrame([("alpha",)], "name STRING")
    right = spark.createDataFrame([("alpha",), ("alphaa",), ("gamma",)], "label STRING")
    # claimed-over-cap → exact fallback without any count job on `right`
    guarded = fuzzy_label_join(
        left, right, "name", "label", threshold=0.9, max_right_rows=2, right_count=3
    )
    assert all(r["similarity"] == 1.0 for r in guarded.collect())
    # claimed-under-cap → fuzzy path
    fuzzy = fuzzy_label_join(
        left, right, "name", "label", threshold=0.9, max_right_rows=5, right_count=3
    )
    assert {r["label"] for r in fuzzy.collect()} == {"alpha", "alphaa"}


def test_dedup_selfjoins_release_input_cache(spark):
    """lsh_candidate_pairs / ngram_jaccard_pairs must not leak the large
    signature/shingle caches (round-1 verdict #1): after the call only the
    small returned pair-set is cached, and the caller can release it."""
    from science_datalake_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    spark.catalog.clearCache()
    # Deterministically flush RDD-level blocks left by earlier tests
    # (localCheckpoint results etc.): clearCache only empties the SQL
    # cache manager, and waiting on ContextCleaner GC is racy — an async
    # cleanup landing mid-test shifts the baseline under the assertions.
    # Unpersisting every persistent RDD pins the baseline; none of those
    # frames are reused across tests.
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd in list(jmap.values()):
        rdd.unpersist(True)

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 3} jumps over the lazy dog") for i in range(30)],
        "doc_id INT, text STRING",
    )

    def n_cached() -> int:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return jmap.size()

    base = n_cached()
    pairs = lsh_candidate_pairs(minhash_signatures(docs, "doc_id", "text"), "doc_id")
    assert pairs.count() > 0
    assert n_cached() == base + 1  # only the returned pair-set added

    # repeated calls stay BOUNDED: the slot registry releases the previous
    # result, so query wrappers that drop the handle can't accumulate
    # (round-2 review finding)
    pairs2 = lsh_candidate_pairs(minhash_signatures(docs, "doc_id", "text"), "doc_id")
    assert pairs2.count() > 0
    assert n_cached() == base + 1
    pairs2.unpersist()
    assert n_cached() == base

    scored = ngram_jaccard_pairs(docs, "doc_id", "text")
    assert scored.count() > 0
    assert n_cached() == base + 1
    scored.unpersist()
    assert n_cached() == base


def test_cooccurrence_skew_cap(spark):
    """max_group_size drops degenerate groups before the self-join."""
    from science_datalake_spark.operators.graph import cooccurrence

    rows = [("mega", f"i{k}") for k in range(50)] + [("small", "a"), ("small", "b")]
    m = spark.createDataFrame(rows, "grp STRING, item STRING")
    capped = cooccurrence(m, "grp", "item", max_group_size=10)
    got = {(r["item_a"], r["item_b"]) for r in capped.collect()}
    assert got == {("a", "b")}  # mega's 1225 pairs suppressed
    uncapped = cooccurrence(m, "grp", "item")
    assert uncapped.count() == 50 * 49 // 2 + 1


def test_approx_stats_profile_matches_exact(spark, sf_oracle):
    """Sketch-based profile ≈ exact on real data (rank error ≤ 1/accuracy)."""
    from science_datalake_spark.operators.stats import approx_quantiles, approx_stats_profile

    li = table(spark, sf_oracle, "lineitem")
    approx = {
        r["l_returnflag"]: r
        for r in approx_stats_profile(li, ["l_returnflag"], "l_extendedprice").collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("median"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, e in exact.items():
        a = approx[flag]
        assert a["n"] == e["n"]
        assert abs(a["median"] - e["median"]) / e["median"] < 0.01
        assert abs(a["p95"] - e["p95"]) / e["p95"] < 0.01
    q = approx_quantiles(li, ["l_returnflag"], "l_extendedprice").collect()
    assert {c for c in q[0].asDict()} == {"l_returnflag", "p25", "p50", "p75", "p95"}


def test_xref_bridge_normalizes_aliases(spark):
    xa = spark.createDataFrame(
        [("a1", "UMLS_CUI", "C001"), ("a2", "MSH", "D01"), ("a3", "FOO", "X")],
        "term_id STRING, xref_db STRING, xref_id STRING",
    )
    xb = spark.createDataFrame(
        [("b1", "UMLS", "C001"), ("b2", "MESH", "D01"), ("b3", "BAR", "X")],
        "term_id STRING, xref_db STRING, xref_id STRING",
    )
    bridged = xref_bridge_join(xa, xb).collect()
    assert {(r["term_a"], r["term_b"]) for r in bridged} == {("a1", "b1"), ("a2", "b2")}


def test_top1_deterministic_on_ties(spark):
    df = spark.createDataFrame(
        [("k", 10, "b"), ("k", 10, "a"), ("k", 5, "z")], "key STRING, score INT, id STRING"
    )
    best = top1_per_key(df, ["key"], [F.desc("score"), F.asc("id")]).collect()
    assert len(best) == 1 and best[0]["id"] == "a"


def test_asof_join_null_right_values_no_frankenrow(spark):
    """A matched right row with NULL value columns must come through as-is,
    not stitched with values from an older right row; null right
    timestamps never match (DuckDB ASOF semantics)."""
    from science_datalake_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 3, "L")], "k LONG, ts LONG, tag STRING")
    right = spark.createDataFrame(
        [(1, 1, 5), (1, 2, None), (1, None, 99)], "k LONG, ts LONG, v INT"
    )
    out = asof_join(left, right, key="k", left_ts="ts", right_ts="ts",
                    right_value_cols=["ts", "v"]).collect()
    assert len(out) == 1
    r = out[0]
    assert r["right_ts"] == 2 and r["right_v"] is None  # the real ts=2 row


def test_minhash_xxhash64_fast_path(spark):
    """The xxhash64 signature path: exact-duplicate documents collide in
    every band (so LSH finds them) exactly as on the md5 path, signatures
    are longs not hex strings, and unknown hash_fn values are rejected."""
    import pytest as _pytest

    from science_datalake_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        simhash,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words appear in this one here"),
            (4, "too short"),  # fewer than n=3 words: no shingles
        ],
        "doc_id INT, text STRING",
    )
    sigs = minhash_signatures(docs, "doc_id", "text", hash_fn="xxhash64")
    assert dict(sigs.dtypes)["mh0"] == "bigint"
    assert sorted(r["doc_id"] for r in sigs.collect()) == [1, 2, 3]
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) not in got
    pairs.unpersist()

    sh = simhash(docs, "doc_id", "text", bits=48, hash_fn="xxhash64")
    by_id = {r["doc_id"]: r["simhash"] for r in sh.collect()}
    assert by_id[1] == by_id[2] and len(by_id[1]) == 48
    assert by_id[1] != by_id[3]

    with _pytest.raises(ValueError, match="hash_fn"):
        minhash_signatures(docs, "doc_id", "text", hash_fn="sha9")
    with _pytest.raises(ValueError, match="max 64"):
        simhash(docs, "doc_id", "text", bits=65, hash_fn="xxhash64")
    # md5 path widens past one digest via salted concatenation (round 8):
    # near-identical docs still collide, distinct docs still separate
    sh64 = simhash(docs, "doc_id", "text", bits=64, hash_fn="md5")
    by64 = {r["doc_id"]: r["simhash"] for r in sh64.collect()}
    assert by64[1] == by64[2] and len(by64[1]) == 64
    assert by64[1] != by64[3]
    # <=32 keeps the historical unsalted single-digest bits as a PREFIX
    sh16 = simhash(docs, "doc_id", "text", bits=16, hash_fn="md5")
    by16 = {r["doc_id"]: r["simhash"] for r in sh16.collect()}
    assert len(by16[1]) == 16
    sh32 = simhash(docs, "doc_id", "text", bits=32, hash_fn="md5")
    assert all(
        r["simhash"][:16] == by16[r["doc_id"]]
        for r in sh32.collect()
    )


def test_lsh_preserves_caller_cache(spark):
    """A signature frame the CALLER persisted must still be cached after
    lsh_candidate_pairs returns (round-3 advice: the operator used to
    unpersist it as its own)."""
    from science_datalake_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 2} epsilon zeta") for i in range(10)],
        "doc_id INT, text STRING",
    )
    sigs = minhash_signatures(docs, "doc_id", "text").persist()
    sigs.count()
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    assert pairs.count() > 0
    lvl = sigs.storageLevel
    assert lvl.useMemory or lvl.useDisk  # caller's cache untouched
    sigs.unpersist()
    pairs.unpersist()


def test_bm25_builds_one_lazy_plan_no_driver_jobs(spark):
    """bm25_scores must not run any Spark job while BUILDING the plan (the
    N/avgdl constants are folded in as a broadcast 1-row aggregate, not
    collected driver-side — round-3 verdict #3)."""
    from science_datalake_spark.operators.ranking import bm25_scores

    docs = spark.createDataFrame(
        [(i, f"spark table merge word{i} filler text here") for i in range(20)],
        "doc_id INT, text STRING",
    )

    tracker = spark.sparkContext._jsc.sc().statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    scores = bm25_scores(docs, "doc_id", "text", ["spark", "merge"])
    after = len(tracker.getJobIdsForGroup(None))
    assert after == before  # zero jobs during plan construction
    rows = scores.collect()
    assert len(rows) == 20 and all(r["bm25"] > 0 for r in rows)


def test_exact_group_quantiles_single_scan_no_join(spark):
    """exact_group_quantiles must scan its input once and contain no join
    (the counts come from a window over the same partitioning, not a
    broadcast-joined second aggregation — round-3 advice finding), while
    still matching Spark's exact percentile."""
    from science_datalake_spark.operators.stats import exact_group_quantiles

    df = spark.createDataFrame(
        [(f"g{i % 3}", float(i * 7 % 23)) for i in range(40)] + [("g3", 5.0)],
        "k STRING, v DOUBLE",
    )
    out = exact_group_quantiles(df, ["k"], "v", [0.25, 0.5, 0.95])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan

    expect = {
        r["k"]: (r["q1"], r["q2"], r["q3"])
        for r in df.groupBy("k")
        .agg(
            F.expr("percentile(v, 0.25)").alias("q1"),
            F.expr("percentile(v, 0.5)").alias("q2"),
            F.expr("percentile(v, 0.95)").alias("q3"),
        )
        .collect()
    }
    got = {r["k"]: (r["p25"], r["p50"], r["p95"]) for r in out.collect()}
    assert got.keys() == expect.keys()
    for k in expect:
        for a, b in zip(got[k], expect[k]):
            assert abs(a - b) < 1e-9, (k, got[k], expect[k])


def test_exact_group_quantiles_fused_mode(spark):
    """Fused mode (extra_aggs/carry_cols) must match the separate-pass
    answer on a nasty input: NULL values inside a group (ranked nulls-last,
    excluded from quantiles but counted by COUNT(*)), a NULL group key,
    and an ALL-NULL group (survives with NULL quantiles — SQL aggregate
    semantics, no compensating join). The plan must stay join-free with
    one scan."""
    from science_datalake_spark.operators.stats import exact_group_quantiles

    rows = [(f"g{i % 3}", float(i * 7 % 23), float(i % 5)) for i in range(40)]
    rows += [("g0", None, 9.0), ("g1", None, 1.0)]  # nulls inside groups
    rows += [(None, 4.0, 2.0), (None, 8.0, 3.0)]  # NULL group key
    rows += [("gnull", None, 7.0), ("gnull", None, 7.0)]  # all-NULL group
    df = spark.createDataFrame(rows, "k STRING, v DOUBLE, w DOUBLE")

    out = exact_group_quantiles(
        df,
        ["k"],
        "v",
        (0.25, 0.5),
        ("q25", "q50"),
        carry_cols=["w"],
        extra_aggs={
            "n": F.count("*"),
            "avg_v": F.avg("__v"),
            "sum_w": F.sum("w"),
        },
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("FileScan") + plan.count("Scan ExistingRDD") <= 1

    expect = {
        r["k"]: (r["q25"], r["q50"], r["n"], r["avg_v"], r["sum_w"])
        for r in df.groupBy("k")
        .agg(
            F.expr("percentile(v, 0.25)").alias("q25"),
            F.expr("percentile(v, 0.5)").alias("q50"),
            F.count("*").alias("n"),
            F.avg("v").alias("avg_v"),
            F.sum("w").alias("sum_w"),
        )
        .collect()
    }
    got = {r["k"]: (r["q25"], r["q50"], r["n"], r["avg_v"], r["sum_w"]) for r in out.collect()}
    assert got.keys() == expect.keys()
    for k in expect:
        for a, b in zip(got[k], expect[k]):
            if a is None or b is None:
                assert a is None and b is None, (k, got[k], expect[k])
            else:
                assert abs(a - b) < 1e-9, (k, got[k], expect[k])


def test_redact_pii_replaces_all_classes(spark):
    from science_datalake_spark.operators.textops import (
        dup_bigram_fraction,
        dup_token_fraction,
        redact_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.org or 10.1.2.3 or +49(170)1234567 end"),
            (2, "clean text with no personal data at all"),
        ],
        "id INT, t STRING",
    )
    got = {r["id"]: r["c"] for r in df.select("id", redact_pii(F.col("t")).alias("c")).collect()}
    assert got[1] == "mail <EMAIL> or <IP> or <PHONE> end"
    assert got[2] == "clean text with no personal data at all"

    rep = df.select(
        "id",
        dup_token_fraction(F.col("t")).alias("dt"),
        dup_bigram_fraction(F.col("t")).alias("db"),
    )
    vals = {r["id"]: (r["dt"], r["db"]) for r in rep.collect()}
    assert vals[2] == (0.0, 0.0)  # all-unique text
    spam = spark.createDataFrame([(3, "buy now " * 50)], "id INT, t STRING")
    r3 = spam.select(dup_bigram_fraction(F.col("t")).alias("db")).first()
    assert r3["db"] > 0.9  # repeated bigrams dominate


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing's core property: documents sharing a substring of length
    >= k+w-1 share at least one fingerprint; disjoint texts share none.
    xxhash64 fast path yields the same OVERLAP STRUCTURE (different
    values)."""
    from science_datalake_spark.operators.dedup import (
        fingerprint_overlap_pairs,
        winnowing_fingerprints,
    )

    shared = "the exact same long copied passage appears here verbatim"
    docs = spark.createDataFrame(
        [
            (1, f"intro alpha {shared} outro beta"),
            (2, f"different opening {shared} and a different closing"),
            (3, "entirely unrelated content with zero overlap whatsoever!"),
        ],
        "doc_id INT, text STRING",
    )
    for hf in ("md5", "xxhash64"):
        fps = winnowing_fingerprints(docs, "doc_id", "text", k=8, w=4, hash_fn=hf)
        pairs = {
            (r["id_a"], r["id_b"]): r["n_shared"]
            for r in fingerprint_overlap_pairs(fps, "doc_id").collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] >= 1, hf
        assert (1, 3) not in pairs and (2, 3) not in pairs, hf


def test_bpe_regex_token_count(spark):
    """GPT-2-style pre-tokenizer piece counts on hand-tokenized examples,
    and DuckDB counts the identical pieces with the same pattern (the
    Java∩RE2 property-class subset)."""
    import duckdb

    from science_datalake_spark.operators.textops import (
        BPE_SPLIT_PATTERN,
        bpe_regex_token_count,
    )

    cases = [
        # "don" "'t" " stop" → 3; "hello" " world" "!" → 3
        (1, "don't stop", 3),
        (2, "hello world!", 3),
        # "abc" "123" " x" "." "." → piece runs split letters/digits/punct
        (3, "abc123 x..", 4),
        (4, "", 0),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in cases], "id INT, t STRING")
    got = {
        r["id"]: r["n"]
        for r in df.select("id", bpe_regex_token_count(F.col("t")).alias("n")).collect()
    }
    for i, _t, want in cases:
        assert got[i] == want, (i, got[i], want)

    con = duckdb.connect()
    for i, t, want in cases:
        (n,) = con.sql(
            "SELECT len(regexp_extract_all(?, ?))", params=[t, BPE_SPLIT_PATTERN]
        ).fetchone()
        assert n == want, (i, n, want)


def test_fuzzy_join_length_blocking_is_sound(spark):
    """The length-ratio block must be admissible: (a) jw <= 0.8 + 0.2*r
    holds on a broad random sample, (b) blocked and unblocked joins return
    identical rows at a >0.8 threshold."""
    import random

    from science_datalake_spark.operators.linkage import (
        fuzzy_label_join,
        jaro_winkler_py,
    )

    rng = random.Random(11)
    alphabet = "abcdefg "
    for _ in range(300):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 12))).strip()
        b = "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 12))).strip()
        if not a or not b:
            continue
        r = min(len(a), len(b)) / max(len(a), len(b))
        assert jaro_winkler_py(a, b) <= 0.8 + 0.2 * r + 1e-12, (a, b)

    left = spark.createDataFrame(
        [("machine learning",), ("ai",), ("statistics",)], "name STRING"
    )
    right = spark.createDataFrame(
        [("machine learnin",), ("machine",), ("a",), ("statistic",), ("x" * 40,)],
        "label STRING",
    )
    blocked = fuzzy_label_join(left, right, "name", "label", threshold=0.9)
    # reproduce the unblocked result by scoring the full cross join
    from science_datalake_spark.operators.linkage import jaro_winkler_udf

    full = (
        F.broadcast(left)
        .crossJoin(right)
        .withColumn(
            "similarity", jaro_winkler_udf(F.lower(F.col("name")), F.lower(F.col("label")))
        )
        .filter(F.col("similarity") >= 0.9)
    )
    assert {tuple(r) for r in blocked.collect()} == {tuple(r) for r in full.collect()}
    # and the blocked plan's UDF stage sees fewer input pairs: the x*40
    # row can never pair with anything at 0.9
    assert blocked.count() == full.count()


def test_winnowing_short_and_null_docs_no_crash(spark):
    """Documents shorter than k+w-1 chars (and NULL/empty text) must yield
    zero fingerprints, not a slice(start=0) job abort — Spark's
    sequence(1, 0) is DESCENDING [1, 0], the trap the CASE guards close."""
    from science_datalake_spark.operators.dedup import winnowing_fingerprints

    docs = spark.createDataFrame(
        [(1, "short"), (2, ""), (3, None), (4, "exactly11ch"), (5, "x" * 40)],
        "doc_id INT, text STRING",
    )
    fps = winnowing_fingerprints(docs, "doc_id", "text", k=8, w=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], 0)
        by_doc[r["doc_id"]] += 1
    assert 1 not in by_doc and 2 not in by_doc and 3 not in by_doc
    assert by_doc.get(4, 0) >= 1  # k+w-1 = 11 chars: first full window exists
    assert by_doc.get(5, 0) >= 1


def test_winnowing_chunked_giant_doc_equals_unchunked(spark):
    """The max_chars chunked branch (giant-document guard) must produce
    the EXACT fingerprint row-set of the map-only path for any split
    point: repeated content straddling chunk boundaries, duplicate
    fingerprints across chunks (the per-doc distinct), chunk tails
    shorter than a window, and docs exactly at the threshold."""
    import random

    from science_datalake_spark.operators.dedup import winnowing_fingerprints

    rng = random.Random(7)
    blob = "".join(rng.choice("abcdef ") for _ in range(997))
    docs = spark.createDataFrame(
        [
            (1, blob * 9),  # ~9 KB with massive cross-chunk repetition
            (2, "".join(rng.choice("xyzw. ") for _ in range(5000))),
            (3, "z" * 1000),  # threshold-exact: stays on the map-only path
            (4, "tail" * 251),  # 1004 chars: 4-char final chunk, no window
        ],
        "doc_id INT, text STRING",
    )
    for hf in ("md5", "xxhash64"):
        # MULTISET equality, not set: downstream fingerprint_overlap_pairs
        # counts (id, fp) row multiplicity, so the chunked branch's
        # per-doc distinct must see the same multiplicities the map-only
        # path emits (both are exactly 1 per (id, fp): the mins
        # expression array_distincts within the doc/chunk and the
        # chunked branch distincts across chunks — review finding)
        want = sorted(
            (r["doc_id"], r["fp"])
            for r in winnowing_fingerprints(
                docs, "doc_id", "text", k=8, w=4, hash_fn=hf, max_chars=10**9
            ).collect()
        )
        got = sorted(
            (r["doc_id"], r["fp"])
            for r in winnowing_fingerprints(
                docs, "doc_id", "text", k=8, w=4, hash_fn=hf, max_chars=1000
            ).collect()
        )
        assert got == want, hf
        assert len(want) == len(set(want))  # exactly one row per (id, fp)


def test_pii_counts_shielded_by_redaction_order(spark):
    """An IP must not also count as a phone: each class is counted on
    text with preceding classes redacted, matching redact_pii exactly."""
    from science_datalake_spark.operators.textops import pii_counts

    df = spark.createDataFrame([(1, "ip 10.0.0.7 only")], "id INT, t STRING")
    counts = pii_counts(F.col("t"))
    row = df.select(
        counts["n_emails"].alias("e"), counts["n_ips"].alias("i"), counts["n_phones"].alias("p")
    ).first()
    assert (row["e"], row["i"], row["p"]) == (0, 1, 0)


def test_fuzzy_join_length_blocking_unicode_case_expansion(spark):
    """Lengths must be measured on the lowercased strings the scorer sees:
    U+0130 (İ) lowercases to TWO chars, so a raw-length block would drop a
    pair whose lowered forms match exactly."""
    left = spark.createDataFrame([("İ" * 4,)], "name STRING")  # 4 raw chars
    right = spark.createDataFrame([("i̇" * 4,)], "label STRING")  # 8 raw chars
    got = fuzzy_label_join(left, right, "name", "label", threshold=0.95).collect()
    # lowered forms are both 'i̇'*4 (8 chars): ratio 1.0, similarity 1.0.
    # A raw-length block (4 vs 8 = 0.5 < (0.95-0.8)/0.2 = 0.75) would
    # unsoundly prune the pair before scoring.
    assert len(got) == 1 and got[0]["similarity"] == 1.0


def test_lsh_candidate_pairs_bucket_cap_guards_degenerate_corpus(spark):
    """A corpus of identical boilerplate puts every document in ONE band
    bucket — O(n²) pairs. max_bucket drops such buckets; the default
    (None) keeps the unguarded semantics bit-for-bit."""
    from science_datalake_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    boiler = [(i, "the same boilerplate text repeated everywhere") for i in range(24)]
    distinct = [
        (100, "a genuinely unique document about quantum optics research"),
        (101, "a genuinely unique document about quantum optics research"),
    ]
    df = spark.createDataFrame(boiler + distinct, "doc_id LONG, text STRING")
    sigs = minhash_signatures(df, "doc_id", "text", n=3, num_hashes=4).persist()
    try:
        unguarded = lsh_candidate_pairs(sigs, "doc_id", num_hashes=4)
        assert unguarded.count() == (24 * 23) // 2 + 1  # boiler clique + 1 pair
        # cap below the boiler bucket size: only the genuine pair survives
        capped = lsh_candidate_pairs(sigs, "doc_id", num_hashes=4, max_bucket=10)
        assert [tuple(r) for r in capped.collect()] == [(100, 101)]
        # a cap above every bucket size changes nothing (parity at cap=∞)
        loose = lsh_candidate_pairs(sigs, "doc_id", num_hashes=4, max_bucket=1000)
        assert {tuple(r) for r in loose.collect()} == {
            tuple(r) for r in unguarded.collect()
        }
    finally:
        sigs.unpersist()


def test_lsh_star_edges_connectivity_equals_clique_pairs(spark):
    """lsh_star_edges must induce EXACTLY the clique pairs' connected
    components (a bucket is a clique; a star spans it), with strictly
    fewer-or-equal edges, id_a < id_b, and the same max_bucket guard."""
    from science_datalake_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_star_edges,
        minhash_signatures,
    )
    from science_datalake_spark.operators.graph import connected_components

    docs = [
        # two K-copy clusters + chain-ish overlap + singletons
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (10, "one two three four five six seven"),
        (11, "one two three four five six seven"),
        (12, "one two three four five six eight"),
        (20, "completely unrelated text about nothing shared"),
        (21, "another disjoint document with its own words"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    sigs = minhash_signatures(df, "doc_id", "text", n=3, num_hashes=4).persist()
    try:
        pairs = lsh_candidate_pairs(sigs, "doc_id", num_hashes=4)
        star = lsh_star_edges(sigs, "doc_id", num_hashes=4)
        assert star.count() <= pairs.count()
        assert star.filter(F.col("id_a") >= F.col("id_b")).count() == 0
        comp_pairs = {
            (r["node"], r["comp"])
            for r in connected_components(pairs, "id_a", "id_b").collect()
        }
        comp_star = {
            (r["node"], r["comp"])
            for r in connected_components(star, "id_a", "id_b").collect()
        }
        assert comp_star == comp_pairs
        # the max_bucket guard drops the same oversized buckets
        boiler = spark.createDataFrame(
            [(i, "same boilerplate everywhere") for i in range(24)]
            + [(100, "unique quantum optics doc"), (101, "unique quantum optics doc")],
            "doc_id LONG, text STRING",
        )
        bs = minhash_signatures(boiler, "doc_id", "text", n=3, num_hashes=4).persist()
        try:
            capped = lsh_star_edges(bs, "doc_id", num_hashes=4, max_bucket=10)
            assert [tuple(r) for r in capped.collect()] == [(100, 101)]
        finally:
            bs.unpersist()
    finally:
        sigs.unpersist()


def test_semantic_dedup_dominated_rule(spark):
    """semantic_dedup's keep rule, verified against a brute-force python
    mirror: a row is dropped IFF some smaller-id row in its cluster is
    within cosine >= threshold. Cross-cluster near-identical vectors must
    NOT pair (that is the SemDeDup cost model — candidate search never
    leaves the cluster), and the centroid relation must broadcast."""
    import math

    from science_datalake_spark.operators.dedup import semantic_dedup
    from science_datalake_spark.operators.similarity import exemplar_centroids

    vecs = {
        0: [1.0, 0.0, 0.0],
        1: [0.0, 1.0, 0.0],
        2: [0.98, 0.02, 0.0],  # near vec 0 → same cluster, dropped
        3: [0.02, 0.98, 0.0],  # near vec 1 → same cluster, dropped
        4: [0.6, 0.59, 0.0],  # diagonal: one cluster, far from exemplar peers
        5: [0.97, 0.03, 0.0],  # near 0 and 2 → dropped (dominated by 0)
        6: [0.0, 0.0, 1.0],  # orthogonal: kept wherever it lands
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    cents = exemplar_centroids(df, "vec_id", "embedding", k=2)
    out = semantic_dedup(df, "vec_id", "embedding", cents, threshold=0.9)
    rows = {r["vec_id"]: (r["bucket"], r["semantic_dup"]) for r in out.collect()}
    assert set(rows) == set(vecs)

    # the numpy (default) and sql engines must agree row-for-row
    sql_out = semantic_dedup(
        df, "vec_id", "embedding", cents, threshold=0.9, engine="sql"
    )
    assert rows == {
        r["vec_id"]: (r["bucket"], r["semantic_dup"]) for r in sql_out.collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))

    # python mirror of assignment (cents = vecs 0 and 1) + dominated rule
    def bucket(v):
        scored = sorted(
            ((round(cos(v, vecs[c]), 6), -c) for c in (0, 1)), reverse=True
        )
        return -scored[0][1]

    for i, v in vecs.items():
        expect_bucket = bucket(v)
        expect_drop = any(
            j < i and bucket(vecs[j]) == expect_bucket and round(cos(v, vecs[j]), 4) >= 0.9
            for j in vecs
        )
        assert rows[i] == (expect_bucket, expect_drop), (i, rows[i])

    # sql engine: the intra-cluster join must not be a cartesian — the
    # small side broadcasts (numpy engine has no join at all: mapInPandas
    # + per-bucket applyInPandas)
    plan = sql_out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_exact_group_quantiles_null_key_group_with_counts(spark):
    """group_counts is a pure performance parameter: a NULL group key must
    produce the same quantile row through the counts join (null-safe
    equality) as through the two-window path."""
    from science_datalake_spark.operators.stats import exact_group_quantiles

    df = spark.createDataFrame(
        [(None, 1.0), (None, 3.0), ("a", 10.0), ("a", 20.0)],
        "k STRING, v DOUBLE",
    )
    counts = df.groupBy("k").agg(F.count("v").alias("__nv"))
    via_window = exact_group_quantiles(df, ["k"], "v", (0.5,), ("q50",))
    via_counts = exact_group_quantiles(
        df, ["k"], "v", (0.5,), ("q50",), group_counts=counts
    )
    a = sorted(map(tuple, via_window.collect()), key=lambda t: (t[0] is not None, t[0] or ""))
    b = sorted(map(tuple, via_counts.collect()), key=lambda t: (t[0] is not None, t[0] or ""))
    assert a == b and len(a) == 2  # the NULL-key group survives


def test_quality_gate_reason_order_and_keep(spark):
    """quality_gate names the FIRST failing rule and keep=true only when
    none fail; tuned inputs hit each reject reason."""
    from science_datalake_spark.operators.textops import quality_gate

    en = "the cat sat of the mat and the dog is to run in the house again"
    rows = [
        (1, en),  # keeps: >=15 tokens, stopwordy, non-repetitive
        (2, "short text"),  # too_short
        (3, " ".join(["spam ham"] * 40)),  # repetitive (and >=15 tokens)
        (4, " ".join(f"w{i}" for i in range(20))),  # low_stopword
        (5, " ".join(["the"] * 10 + [f"u{i}" for i in range(190)])),  # see below
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    g = quality_gate(F.col("text"))
    out = {
        r["doc_id"]: (r["reason"], r["keep"])
        for r in df.select(
            "doc_id", g["reject_reason"].alias("reason"), g["keep"].alias("keep")
        ).collect()
    }
    assert out[1] == (None, True)
    assert out[2] == ("too_short", False)
    assert out[3] == ("repetitive", False)
    assert out[4] == ("low_stopword", False)
    # doc 5: stop ratio 10/200 = 0.05 -> passes the floor, fails the 0.10
    # language threshold -> non_english (rule ORDER is what's asserted)
    assert out[5] == ("non_english", False)


def test_quality_gate_flags_matches_column_form(spark):
    """quality_gate_flags (the evaluate-each-signal-once DataFrame form
    the curation funnel uses — round-9 refactor) must emit the identical
    values as the Column form for every signal, including NULL text, the
    boundary docs that pick each reject reason, and adversarial
    tokenizer inputs: pure whitespace, leading/trailing tabs (Java split
    keeps the empty fields), every ASCII \\s separator, Unicode NBSP
    (Java's ASCII \\s must NOT split on it) and stopword-only docs.
    Scratch columns never leak into the output."""
    from science_datalake_spark.operators.textops import (
        quality_gate,
        quality_gate_flags,
    )

    en = "the cat sat of the mat and the dog is to run in the house again"
    rows = [
        (1, en),
        (2, "short text"),
        (3, " ".join(["spam ham"] * 40)),
        (4, " ".join(f"w{i}" for i in range(20))),
        (5, " ".join(["the"] * 10 + [f"u{i}" for i in range(190)])),
        (6, None),
        (7, ""),
        (8, "   "),
        (9, "\ta b\t"),
        (10, "a b c"),
        (11, "the the the the"),
        (12, " ".join(["the"] * 16)),
        (13, "one\n\ntwo\r\nthree\x0bfour\ffive"),
        (14, "  leading and trailing  "),
        # NBSP is NOT whitespace to Java's ASCII \s: "a<NBSP>b" is ONE token
        (15, "a\u00a0b " + " ".join(["the"] * 15)),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    g = quality_gate(F.col("text"))
    want = {
        r["doc_id"]: (r["n"], r["d"], r["s"], r["r"])
        for r in df.select(
            "doc_id",
            g["n_tokens"].alias("n"),
            g["dup_bigram_frac"].alias("d"),
            g["stop_ratio"].alias("s"),
            g["reject_reason"].alias("r"),
        ).collect()
    }
    flagged = quality_gate_flags(df, "text")
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_bigram_frac"], r["stop_ratio"], r["quality_reject"])
        for r in flagged.collect()
    }
    assert got == want
    assert got[9][0] == 4  # "", "a", "b", "" — trim strips spaces only
    assert got[13][0] == 5
    assert got[15][0] == 16
    assert flagged.columns == [
        *df.columns, "n_tokens", "dup_bigram_frac", "stop_ratio", "quality_reject"
    ]


def test_pack_greedy_matches_python_mirror_and_is_partition_invariant(spark):
    """pack_greedy vs a plain-python first-fit mirror on a nasty input:
    an oversized document (> budget → own bin, overflowed), a NULL token
    count (packs as 0), exact-fit boundaries. Repartitioning the input
    arbitrarily must not change a single assignment (the UDF re-sorts
    within the shard group)."""
    from science_datalake_spark.operators.packing import pack_greedy

    rows = [
        (0, 0, 60),
        (1, 0, 50),  # 60+50=110 > 100 → new bin
        (2, 0, 500),  # oversized → own (fresh) bin
        (3, 0, 10),  # after overflow → new bin
        (4, 0, 90),  # 10+90=100 = budget → fits
        (5, 0, 1),  # 101 > 100 → new bin
        (6, 1, None),  # null → 0 tokens
        (7, 1, 100),
        (8, 1, 100),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, shard LONG, tok LONG")

    def mirror(group):
        bins, b, fill = {}, 0, 0
        for i, t in group:
            t = t or 0
            if fill > 0 and fill + t > 100:
                b, fill = b + 1, 0
            fill += t
            bins[i] = b
        return bins

    expect = {}
    for shard in (0, 1):
        expect.update(mirror([(i, t) for i, s, t in rows if s == shard]))

    out = pack_greedy(df, "tok", 100, "shard", ["doc_id"])
    got = {r["doc_id"]: r["bin"] for r in out.collect()}
    assert got == expect, (got, expect)

    shuffled = pack_greedy(
        df.repartition(7, "tok"), "tok", 100, "shard", ["doc_id"]
    )
    assert {r["doc_id"]: r["bin"] for r in shuffled.collect()} == expect


def test_pack_contiguous_matches_sql_window_twin(spark):
    """pack_contiguous (concat-and-split accounting) must equal the plain
    SQL running-sum formulation, and stay a single-shuffle window plan
    (no Join, no extra Exchange beyond the shard hash partition)."""
    from science_datalake_spark.operators.packing import pack_contiguous

    rows = [(i, i % 3, (i * 37) % 120 + 1) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id LONG, shard LONG, tok LONG")
    out = pack_contiguous(df, "tok", 200, "shard", ["doc_id"])
    df.createOrReplaceTempView("pack_in")
    twin = spark.sql(
        """
        SELECT doc_id,
               CAST(floor(coalesce(sum(tok) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 200)
                 AS LONG) AS bin
        FROM pack_in
        """
    )
    got = {r["doc_id"]: r["bin"] for r in out.collect()}
    assert got == {r["doc_id"]: r["bin"] for r in twin.collect()}
    # sparkPlan (pre-AQE) renders once — executedPlan's adaptive wrapper
    # repeats the subtree, double-counting Exchange nodes
    plan = out._jdf.queryExecution().sparkPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1


def test_url_normalization_collapses_wild_spellings(spark):
    """normalize_url must map all four wild spellings of one page to a
    single dedup key; url_host/registrable_domain handle subdomains,
    scheme case, tracking params, and single-label hosts (localhost)."""
    from science_datalake_spark.operators.web import (
        normalize_url,
        registrable_domain,
        url_host,
    )

    spellings = [
        "https://www.Site3.com/page/7",
        "HTTP://SITE3.COM/page/7/",
        "site3.com/page/7?utm=x&ref=abc",
        "https://site3.com/page/7#frag",
    ]
    df = spark.createDataFrame([(u,) for u in spellings], "url STRING")
    keys = {r[0] for r in df.select(normalize_url(F.col("url"))).collect()}
    assert keys == {"site3.com/page/7"}, keys

    hosts = spark.createDataFrame(
        [
            ("https://cdn.assets.site.co/x", "cdn.assets.site.co", "site.co"),
            ("http://localhost/x", "localhost", "localhost"),
            ("www.a.com", "a.com", "a.com"),
            # PSL two-label public suffixes: eTLD+1 takes THREE labels
            ("https://news.bbc.co.uk/story", "news.bbc.co.uk", "bbc.co.uk"),
            ("http://shop.example.com.au/", "shop.example.com.au", "example.com.au"),
            ("https://example.co.uk/", "example.co.uk", "example.co.uk"),
            # a bare public suffix has no registrable domain: fall back
            # to the host itself (two-label rule)
            ("https://co.uk/", "co.uk", "co.uk"),
            (None, None, None),
        ],
        "url STRING, want_host STRING, want_dom STRING",
    )
    got = hosts.select(
        "want_host",
        "want_dom",
        url_host(F.col("url")).alias("h"),
        registrable_domain(url_host(F.col("url"))).alias("d"),
    ).collect()
    for r in got:
        assert r["h"] == r["want_host"], r
        assert r["d"] == r["want_dom"], r


def test_canonical_url_semantics(spark):
    """canonical_url keeps semantic query params (sorted), strips tracking
    params/fragments/trailing slash, and stays NULL-safe — the page-identity
    key where normalize_url is the page-location key."""
    from science_datalake_spark.operators.web import canonical_url

    cases = [
        # four spellings of one page with a SEMANTIC id param
        ("https://www.Site.com/A/b?id=7&utm_source=nl", "site.com/A/b?id=7"),
        ("HTTP://site.com/A/b/?utm_campaign=x&id=7", "site.com/A/b?id=7"),
        ("site.com/A/b?id=7&fbclid=xyz#frag", "site.com/A/b?id=7"),
        ("https://site.com/A/b?gclid=1&id=7", "site.com/A/b?id=7"),
        # param ORDER is transport noise: sorted canonical form
        ("https://a.com/p?b=2&a=1", "a.com/p?a=1&b=2"),
        # all-tracking query collapses to no query at all
        ("https://a.com/p?utm_medium=email&ref_src=tw", "a.com/p"),
        # bare ref is SEMANTIC (git branch refs, forum threads) — kept
        # (round-8 ADVICE: stripping it merged distinct pages)
        ("https://a.com/repo?ref=main&utm_source=x", "a.com/repo?ref=main"),
        # path case survives (paths are case-sensitive), host case does not
        ("https://A.COM/Path", "a.com/Path"),
        # empty segments dropped
        ("https://a.com/p?&a=1&", "a.com/p?a=1"),
        (None, None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url STRING")
    got = [r[0] for r in df.select(canonical_url(F.col("url"))).collect()]
    assert got == [want for _, want in cases], got

    # keep_query=False degrades to the normalize_url-style location key
    df2 = spark.createDataFrame([("https://www.a.com/p/?id=1",)], "url STRING")
    assert df2.select(canonical_url(F.col("url"), keep_query=False)).collect()[0][0] == "a.com/p"

    # the strip set is caller-overridable per crawl: a site where ref IS
    # a tracker can strip it
    df3 = spark.createDataFrame([("https://a.com/p?ref=tw&id=1",)], "url STRING")
    got3 = df3.select(
        canonical_url(F.col("url"), tracking_params="^(ref)=")
    ).collect()[0][0]
    assert got3 == "a.com/p?id=1"


def test_domain_cap_keeps_n_per_domain_deterministically(spark):
    from science_datalake_spark.operators.web import domain_cap

    rows = [(i, f"https://www.d{i % 2}.com/p/{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id LONG, url STRING")
    out = domain_cap(df, "url", max_per_domain=2, order_cols=["doc_id"])
    kept = sorted(r["doc_id"] for r in out.filter("domain_kept").collect())
    assert kept == [0, 1, 2, 3]  # first 2 per domain in doc_id order
    assert out.count() == 10  # annotates, never drops


def test_domain_cap_two_phase_equals_one_window(spark):
    """The salted two-phase cap must reproduce the single-window form
    row-for-row on a skewed corpus (one mega-domain, several small ones,
    a 1-row domain, rows == cap exactly), for several salt_buckets
    settings including 1 (degenerate = the one-window plan in two
    steps)."""
    from pyspark.sql import Window

    from science_datalake_spark.operators.web import (
        domain_cap,
        registrable_domain,
        url_host,
    )

    rows = [(i, f"https://mega.com/p/{i}") for i in range(200)]  # mega-domain
    rows += [(1000 + i, f"https://small{i % 5}.org/x/{i}") for i in range(25)]
    rows += [(2000, "https://solo.net/only")]
    rows += [(3000 + i, "https://exact.io/c") for i in range(3)]  # == cap
    rows += [(4000 + i, None) for i in range(5)]  # NULL url -> NULL domain
    df = spark.createDataFrame(rows, "doc_id LONG, url STRING")

    w = Window.partitionBy("domain").orderBy("doc_id")
    want = {
        (r["doc_id"], r["domain"], r["domain_kept"])
        for r in df.withColumn(
            "domain", registrable_domain(url_host(F.col("url")))
        )
        .withColumn("domain_kept", F.row_number().over(w) <= 3)
        .collect()
    }
    for buckets in (1, 4, 32):
        got = {
            (r["doc_id"], r["domain"], r["domain_kept"])
            for r in domain_cap(
                df, "url", max_per_domain=3, order_cols=["doc_id"],
                salt_buckets=buckets,
            ).collect()
        }
        assert got == want, buckets

    # cap <= 0 must flag every row dropped (False, never NULL — the empty
    # threshold join would otherwise leave three-valued-logic garbage)
    zero = domain_cap(df, "url", max_per_domain=0, order_cols=["doc_id"])
    flags = {r["domain_kept"] for r in zero.collect()}
    assert flags == {False} and zero.count() == df.count()


def test_registrable_domain_mixed_case_host(spark):
    """The PSL probe must not be defeated by a non-lowercased caller
    host column ('News.BBC.Co.UK' must group as bbc.co.uk, lowercased
    like every url_host-derived domain)."""
    from science_datalake_spark.operators.web import registrable_domain

    df = spark.createDataFrame(
        [("News.BBC.Co.UK", "bbc.co.uk"), ("Shop.EXAMPLE.Com", "example.com")],
        "host STRING, want STRING",
    )
    for r in df.select("want", registrable_domain(F.col("host")).alias("d")).collect():
        assert r["d"] == r["want"], r


def test_exact_group_quantiles_parallel_matches_window_path(spark):
    """The range-partitioned two-phase ranking (the low-cardinality-keys
    scale path) must reproduce the window path exactly: ties straddling
    partition boundaries, NULL group keys, NULL values, and tiny groups."""
    from science_datalake_spark.operators.stats import (
        exact_group_quantiles,
        exact_group_quantiles_parallel,
    )

    rows = [(f"g{i % 2}", float((i * 13) % 7)) for i in range(300)]  # heavy ties
    rows += [(None, float(i)) for i in range(20)]  # NULL group key
    rows += [("solo", 42.0), ("g0", None)]  # 1-row group, NULL value
    df = spark.createDataFrame(rows, "k STRING, v DOUBLE")
    qs = (0.25, 0.5, 0.75, 0.95)
    want = {
        r["k"]: tuple(r[n] for n in ("p25", "p50", "p75", "p95"))
        for r in exact_group_quantiles(df, ["k"], "v", qs).collect()
    }
    got = {
        r["k"]: tuple(r[n] for n in ("p25", "p50", "p75", "p95"))
        for r in exact_group_quantiles_parallel(
            df, ["k"], "v", qs, num_partitions=11
        ).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        for a, b in zip(got[k], want[k]):
            assert abs(a - b) < 1e-9, (k, got[k], want[k])

    # correctness must not ride on exchange reuse deduplicating the two
    # range-exchange subtrees (the persist pins one set of sampled
    # boundaries) — advisor finding
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        noreuse = {
            r["k"]: tuple(r[n] for n in ("p25", "p50", "p75", "p95"))
            for r in exact_group_quantiles_parallel(
                df, ["k"], "v", qs, num_partitions=11
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.exchange.reuse", "true")
    assert noreuse.keys() == want.keys()
    for k in want:
        for a, b in zip(noreuse[k], want[k]):
            assert abs(a - b) < 1e-9, (k, noreuse[k], want[k])


def test_ivf_assign_degenerate_centroid_never_captures(spark):
    """A zero-norm (or NULL) centroid yields NULL/NaN cosine for every
    vector; it must rank LAST (the window formulation's desc-nulls-last),
    never capture the corpus — regression for the array_min NULL-struct
    ordering bug in both the SQL expression path and the numpy engine."""
    from science_datalake_spark.operators.dedup import semantic_dedup
    from science_datalake_spark.operators.similarity import ivf_assign
    from science_datalake_spark.util import local_df

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    cents = local_df(
        spark,
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None)],
        "cent_id BIGINT, cent_vec ARRAY<DOUBLE>",
    )
    got = {
        r["vec_id"]: r["bucket"]
        for r in ivf_assign(corpus, cents, "vec_id", "embedding").collect()
    }
    assert got == {1: 1, 2: 2}, got

    for engine in ("numpy", "sql"):
        sem = {
            r["vec_id"]: r["bucket"]
            for r in semantic_dedup(
                corpus, "vec_id", "embedding", cents, 0.9, engine=engine
            ).collect()
        }
        assert sem == {1: 1, 2: 2}, (engine, sem)


def test_semantic_dedup_null_and_ragged_vectors(spark):
    """NULL / wrong-length embedding rows must not crash the numpy engine
    (np.array on None/ragged lists throws or goes object-dtype — advisor
    finding) and must match the SQL engine's NULL-sim semantics on BOTH
    engines: the row assigns to the lowest cent_id, is never marked a dup,
    and never causes a real vector to be dropped."""
    from science_datalake_spark.operators.dedup import semantic_dedup
    from science_datalake_spark.util import local_df

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, None),  # NULL embedding
            (3, [1.0]),  # ragged: wrong dim vs the 2-d codebook
            (4, [0.99, 0.01]),  # true near-dup of 1 — must still be caught
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cents = local_df(
        spark,
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cent_id BIGINT, cent_vec ARRAY<DOUBLE>",
    )
    results = {}
    for engine in ("numpy", "sql"):
        results[engine] = {
            r["vec_id"]: (r["bucket"], r["semantic_dup"])
            for r in semantic_dedup(
                corpus, "vec_id", "embedding", cents, 0.9, engine=engine
            ).collect()
        }
    assert results["numpy"] == results["sql"], results
    got = results["numpy"]
    assert got[2] == (0, False), got  # NULL → lowest cent_id, never dup
    assert got[3] == (0, False), got  # ragged → same NULL-sim treatment
    assert got[1] == (0, False) and got[4] == (0, True), got


def test_chunk_text_overlap_and_edges(spark):
    """chunk_text: overlap reconstructs the document (each chunk's first
    `overlap` chars == previous chunk's last `overlap` chars), short docs
    yield one chunk, empty/NULL docs yield none, and the plan stays
    map-only (no Exchange)."""
    from science_datalake_spark.operators.textops import chunk_text

    rows = [
        (1, "abcdefghijklmnopqrstuvwxyz"),  # 26 chars → chunks at 1, 11, 21
        (2, "short"),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = chunk_text(df, "doc_id", "text", chunk_chars=12, overlap=2)
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_start"], r["chunk"])
        for r in out.collect()
    }
    assert got == {
        (1, 0): (1, "abcdefghijkl"),
        (1, 1): (11, "klmnopqrstuv"),
        (1, 2): (21, "uvwxyz"),
        (2, 0): (1, "short"),
    }, got
    # consecutive chunks overlap by exactly `overlap` chars
    assert got[(1, 0)][1][-2:] == got[(1, 1)][1][:2]
    plan = out._jdf.queryExecution().sparkPlan().toString()
    assert "Exchange" not in plan and "Generate" in plan

    import pytest

    with pytest.raises(ValueError):
        chunk_text(df, "doc_id", "text", chunk_chars=10, overlap=10)


def test_pagerank_matches_python_mirror(spark):
    """pagerank vs a plain-python power-iteration mirror on a small graph
    (same simplified dangling semantics: leaked mass is not
    redistributed): 'd' is a source-only node (no in-edges) and 'e' is a
    genuine SINK (no out-edges — its rank mass leaks each round, the
    documented simplified-PR behavior this test pins)."""
    from science_datalake_spark.operators.graph import pagerank

    E = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"), ("c", "e")]
    df = spark.createDataFrame(E, "src STRING, dst STRING")
    iters, d = 4, 0.85
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=iters, damping=d).collect()}

    nodes = sorted({x for e in E for x in e})
    out = {}
    for s, _ in E:
        out[s] = out.get(s, 0) + 1
    rank = {n: 1.0 / len(nodes) for n in nodes}
    for _ in range(iters):
        contrib = {n: 0.0 for n in nodes}
        for s, t in E:
            contrib[t] += rank[s] / out[s]
        rank = {n: (1 - d) / len(nodes) + d * contrib[n] for n in nodes}
    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n] - rank[n]) < 1e-12, (n, got[n], rank[n])


def test_pagerank_tol_early_exit(spark):
    """With tol set, iters is a CAP: a graph whose ranks have converged
    must stop early and return ranks identical to the full fixed-
    iteration run. A symmetric 2-cycle converges to the uniform
    distribution after ONE iteration (delta 0 at iteration 2), so
    tol-mode with a huge cap must equal the 2-iteration fixed run."""
    from science_datalake_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src STRING, dst STRING"
    )
    fixed = {
        r["node"]: r["rank"] for r in pagerank(df, iters=2, damping=0.85).collect()
    }
    capped = {
        r["node"]: r["rank"]
        for r in pagerank(df, iters=50, damping=0.85, tol=1e-15).collect()
    }
    assert capped == fixed == {"a": 0.5, "b": 0.5}

    # a non-trivial graph under loose tol still matches the uncapped
    # run's node set and sums to ~1 minus the documented dangling leak
    E = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")]
    g = spark.createDataFrame(E, "src STRING, dst STRING")
    got = {r["node"]: r["rank"] for r in pagerank(g, iters=30, tol=1e-9).collect()}
    ref = {r["node"]: r["rank"] for r in pagerank(g, iters=30).collect()}
    assert set(got) == set(ref)
    for n in ref:
        assert abs(got[n] - ref[n]) < 1e-6, (n, got[n], ref[n])


def test_simhash_candidate_pairs_pigeonhole_recall(spark):
    """Band-bucketed SimHash pairs must find EVERY pair within
    max_hamming (pigeonhole recall is exact when max_hamming < bands) —
    verified against a brute-force all-pairs Hamming scan — and must
    reject invalid band/threshold combos."""
    import itertools

    import pytest

    from science_datalake_spark.operators.dedup import simhash_candidate_pairs

    sigs = [
        (1, "0000111100001111"),
        (2, "0000111100001110"),  # d(1,2)=1
        (3, "0000111100111111"),  # d(1,3)=2? positions 11,12... compute below
        (4, "1111000011110000"),  # far from all
        (5, "0000111100001111"),  # identical to 1
    ]
    df = spark.createDataFrame(sigs, "doc_id LONG, simhash STRING")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_candidate_pairs(df, "doc_id", bits=16, bands=4, max_hamming=2).collect()
    }
    expect = {}
    for (ia, ha), (ib, hb) in itertools.combinations(sigs, 2):
        d = sum(x != y for x, y in zip(ha, hb))
        if d <= 2:
            expect[(ia, ib)] = d
    assert got == expect, (got, expect)

    with pytest.raises(ValueError):
        simhash_candidate_pairs(df, "doc_id", bits=16, bands=5)
    with pytest.raises(ValueError):
        simhash_candidate_pairs(df, "doc_id", bits=16, bands=4, max_hamming=4)


def test_score_buckets_terciles_and_edges(spark):
    """score_buckets: tercile assignment on a known score set, NULL
    scores get NULL buckets (never tail), validation errors, empty
    input survives."""
    import pytest

    from science_datalake_spark.operators.ranking import score_buckets

    rows = [(i, float(i)) for i in range(1, 10)]  # 1..9: terciles at 3.667/6.333
    rows.append((99, None))
    df = spark.createDataFrame(rows, "doc_id LONG, s DOUBLE")
    out = {r["doc_id"]: r["bucket"] for r in score_buckets(df, "s").collect()}
    assert out[99] is None
    assert [out[i] for i in range(1, 10)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )

    with pytest.raises(ValueError):
        score_buckets(df, "s", cuts=(0.5,), labels=("a", "b", "c"))
    with pytest.raises(ValueError):
        score_buckets(df, "s", cuts=(0.7, 0.3), labels=("a", "b", "c"))

    empty = spark.createDataFrame([], "doc_id LONG, s DOUBLE")
    assert score_buckets(empty, "s").count() == 0


def test_exact_quantiles_histogram_matches_window_path(spark):
    """The single-action histogram pass (bounded-cardinality domains)
    must reproduce the window path's interpolated quantiles exactly:
    heavy ties, NULL values, 1-row input, empty input → NULL row."""
    from science_datalake_spark.operators.stats import (
        exact_group_quantiles,
        exact_quantiles_histogram,
    )

    rows = [(round(((i * 13) % 29) / 7.0, 4),) for i in range(500)]
    rows += [(None,), (None,)]
    df = spark.createDataFrame(rows, "v DOUBLE")
    qs = (1.0 / 3.0, 0.5, 2.0 / 3.0, 0.95)
    names = ["q0", "q1", "q2", "q3"]
    want = exact_group_quantiles(
        df.select(F.lit(0).alias("g"), "v"), ["g"], "v", qs, out_names=names
    ).first()
    got = exact_quantiles_histogram(df, "v", qs, out_names=names).first()
    for n in names:
        assert got[n] == want[n], (n, got[n], want[n])  # bit-identical

    one = exact_quantiles_histogram(
        spark.createDataFrame([(7.5,)], "v DOUBLE"), "v", qs, out_names=names
    ).first()
    assert all(one[n] == 7.5 for n in names)

    empty = exact_quantiles_histogram(
        spark.createDataFrame([], "v DOUBLE"), "v", qs, out_names=names
    ).first()
    assert all(empty[n] is None for n in names)


def test_score_buckets_histogram_mode(spark):
    """threshold_pass='histogram' assigns identical buckets to the
    parallel path (NaN/NULL → NULL bucket included) and rejects unknown
    modes; empty input yields all-NULL buckets without crashing (the
    histogram path returns a 1-row all-NULL frame, not no row)."""
    import pytest

    from science_datalake_spark.operators.ranking import score_buckets

    rows = [(i, float(i)) for i in range(1, 10)]
    rows += [(90, float("nan")), (91, None)]
    df = spark.createDataFrame(rows, "doc_id LONG, s DOUBLE")
    par = {r["doc_id"]: r["bucket"] for r in score_buckets(df, "s").collect()}
    hist = {
        r["doc_id"]: r["bucket"]
        for r in score_buckets(df, "s", threshold_pass="histogram").collect()
    }
    assert hist == par

    with pytest.raises(ValueError):
        score_buckets(df, "s", threshold_pass="exactly")

    empty = spark.createDataFrame([], "doc_id LONG, s DOUBLE")
    assert score_buckets(empty, "s", threshold_pass="histogram").count() == 0


def test_text_ppl_buckets_action_count(spark, sf_oracle):
    """The driver query runs exactly TWO actions: one histogram
    threshold pass, one final aggregation (round-6 verdict #3 — the old
    parallel-threshold form ran a boundary-sample action on top).
    Asserted via the SQL execution store: each driver action registers
    one root execution (AQE sub-stages share their root)."""
    from science_datalake_spark.queries.llm_pipeline import text_ppl_buckets

    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    text_ppl_buckets(spark, sf_oracle).collect()
    actions = store.executionsCount() - before
    assert actions <= 2, f"text_ppl_buckets ran {actions} driver actions"


def test_drop_repeated_units_lines(spark):
    """Newline units: repeated nav-menu lines drop (first kept), blank
    lines survive even repeated, NULL text passes through as NULL."""
    from science_datalake_spark.operators.textops import drop_repeated_units

    doc = "MENU\nintro text\n\nMENU\nbody text\n\nMENU\nbody text"
    df = spark.createDataFrame([(1, doc), (2, None)], "doc_id INT, text STRING")
    out = {r["doc_id"]: r for r in drop_repeated_units(df, "doc_id", "text").collect()}
    # kept: MENU, intro text, blank, body text, blank (both MENU repeats
    # and the second body text drop; both blanks survive)
    assert out[1]["cleaned"] == "MENU\nintro text\n\nbody text\n"
    assert out[1]["n_units"] == 8 and out[1]["n_removed"] == 3
    assert out[2]["cleaned"] is None and out[2]["n_removed"] is None

    # keep_blank=False treats blanks like any unit: first kept, repeat
    # dropped
    strict = drop_repeated_units(
        df.filter("doc_id = 1"), "doc_id", "text", keep_blank=False
    ).first()
    assert strict["cleaned"] == "MENU\nintro text\n\nbody text"
    assert strict["n_removed"] == 4


def test_compression_ratio_stats(spark):
    """zlib ratio signal: repetitive text compresses far better than
    high-entropy text; values match a local zlib mirror exactly (same
    library, same level); NULL and empty text guarded."""
    import random
    import zlib

    from science_datalake_spark.operators.textops import compression_ratio_stats

    rng = random.Random(3)
    noisy = "".join(rng.choice("abcdefghijklmnop0123456789") for _ in range(2000))
    rows = [(1, "spam " * 400), (2, noisy), (3, ""), (4, None)]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    got = {r["doc_id"]: r for r in compression_ratio_stats(df, "doc_id", "text").collect()}
    for i, t in rows:
        if t is None:
            assert got[i]["n_compressed"] is None and got[i]["compression_ratio"] is None
            continue
        want = len(zlib.compress(t.encode("utf-8"), 6))
        assert got[i]["n_compressed"] == want, i
    assert got[3]["compression_ratio"] is None  # empty text: no 0/0
    assert got[1]["compression_ratio"] < 0.05 < got[2]["compression_ratio"]


def test_score_buckets_nan_scores(spark):
    """NaN scores must neither crash the threshold computation nor be
    silently bucketed as tail — they get NULL buckets like NULLs, and
    the thresholds come from the finite scores only (review finding)."""
    from science_datalake_spark.operators.ranking import score_buckets

    rows = [(i, float(i)) for i in range(1, 10)]
    rows += [(90, float("nan")), (91, None)]
    df = spark.createDataFrame(rows, "doc_id LONG, s DOUBLE")
    out = {r["doc_id"]: r["bucket"] for r in score_buckets(df, "s").collect()}
    assert out[90] is None and out[91] is None
    assert [out[i] for i in range(1, 10)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )


def test_strip_repeated_spans_semantics(spark):
    """Cross-doc repeated-span removal: windows in >= min_df DISTINCT
    docs are removed everywhere; overlapping flagged windows merge;
    within-doc-only repetition never reaches the threshold."""
    from science_datalake_spark.operators.dedup import strip_repeated_spans

    docs = spark.createDataFrame(
        [
            (1, "SHARED LICENSE TEXT HERE unique one alpha"),
            (2, "prefix two SHARED LICENSE TEXT HERE suffix two"),
            (3, "three only SHARED LICENSE TEXT HERE"),
            (4, "totally different words without boilerplate at all"),
            # second occurrence of the phrase in the SAME doc: only the
            # window whose exact 4-gram crosses min_df docs is removed
            (5, "overlap test SHARED LICENSE TEXT HERE LICENSE TEXT HERE zz"),
            # intra-doc spam below the cross-doc threshold stays
            (6, "spam spam spam spam spam spam mine alone entirely"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_clean"])
        for r in strip_repeated_spans(
            docs, "doc_id", "text", k=4, min_df=3
        ).collect()
    }
    assert got[1] == (7, 4, "unique one alpha")
    assert got[2] == (8, 4, "prefix two suffix two")
    assert got[3] == (6, 4, "three only")
    assert got[4] == (7, 0, "totally different words without boilerplate at all")
    # only the exact flagged window span is covered; the partial second
    # copy survives
    assert got[5] == (10, 4, "overlap test LICENSE TEXT HERE zz")
    # "spam spam spam spam" occurs in ONE distinct doc -> not boilerplate
    assert got[6] == (9, 0, "spam spam spam spam spam spam mine alone entirely")


def test_strip_repeated_spans_overlap_union_and_hash_parity(spark):
    """Adjacent overlapping flagged windows union into one span (no
    double counting), short/empty docs pass through, and the xxhash64
    and string key paths agree."""
    from science_datalake_spark.operators.dedup import strip_repeated_spans

    shared = "a b c d e"  # k=4 -> two overlapping flagged windows (0..3, 1..4)
    docs = spark.createDataFrame(
        [
            (1, f"{shared} tail1"),
            (2, f"head2 {shared}"),
            (3, f"{shared}"),
            (4, "xx"),  # shorter than k: no windows
            (5, "   "),  # whitespace-only
            (6, None),  # NULL text: n_tokens must be 0, never NULL
            (7, "\t mixed\twhitespace padding \n"),  # non-space whitespace
        ],
        "doc_id LONG, text STRING",
    )
    for hk in (True, False):
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_clean"])
            for r in strip_repeated_spans(
                docs, "doc_id", "text", k=4, min_df=3, hash_keys=hk
            ).collect()
        }
        assert got[1] == (6, 5, "tail1")
        assert got[2] == (6, 5, "head2")
        assert got[3] == (5, 5, "")
        assert got[4] == (1, 0, "xx")
        assert got[5] == (0, 0, "")
        assert got[6] == (0, 0, "")
        assert got[7] == (3, 0, "mixed whitespace padding")


# --- keep_best_per_key (round 9 policy dedup) --------------------------------


def test_keep_best_per_key_picks_quality_winner(spark):
    from science_datalake_spark.operators.dedup import keep_best_per_key

    rows = [
        (1, "k1", 0.2),
        (2, "k1", 0.9),  # winner of k1
        (3, "k1", 0.9),  # quality tie -> lower id 2 still wins
        (4, "k2", 0.1),  # singleton keeps itself
    ]
    d = spark.createDataFrame(rows, "doc_id INT, key STRING, q DOUBLE")
    out = keep_best_per_key(
        d, "doc_id", F.col("key"), [F.col("q").desc(), F.col("doc_id")]
    )
    got = {r["doc_id"]: (r["best_id"], r["group_size"], r["is_kept"]) for r in out.collect()}
    assert got[1] == (2, 3, False)
    assert got[2] == (2, 3, True)
    assert got[3] == (2, 3, False)
    assert got[4] == (4, 1, True)


def test_keep_best_per_key_deterministic_across_partitionings(spark):
    from science_datalake_spark.operators.dedup import keep_best_per_key

    rows = [(i, f"k{i % 4}", float((i * 7) % 10)) for i in range(40)]
    d = spark.createDataFrame(rows, "doc_id INT, key STRING, q DOUBLE")
    order = [F.col("q").desc(), F.col("doc_id")]
    a = keep_best_per_key(d, "doc_id", F.col("key"), order).collect()
    b = keep_best_per_key(d.repartition(9), "doc_id", F.col("key"), order).collect()
    assert {(r["doc_id"], r["best_id"]) for r in a} == {
        (r["doc_id"], r["best_id"]) for r in b
    }


def test_bigram_logprob_scores_hand_computed(spark):
    """Bigram LM arithmetic on a tiny hand-computable corpus, plus the
    degenerate contracts: <2-token docs score NULL with n_bigrams 0,
    and word salad from COMMON words outscores (= is rarer than) the
    dominant transition pattern — the discriminating power the unigram
    model lacks."""
    import math

    import pyspark.sql.functions as F

    from science_datalake_spark.operators.ranking import bigram_logprob_scores

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # the dominant transition pattern
            (2, "a b a b"),
            (3, "b a b a"),
            (4, "b b a a"),       # same words, unusual transitions
            (5, "a"),             # too short: no bigrams
            (6, ""),              # empty: split yields [''], 1 token
        ],
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r for r in bigram_logprob_scores(docs, "doc_id", "text").collect()}
    assert got[5]["n_bigrams"] == 0 and got[5]["avg_neg_logprob"] is None
    assert got[6]["n_bigrams"] == 0 and got[6]["avg_neg_logprob"] is None
    assert got[1]["n_bigrams"] == 5 and got[4]["n_bigrams"] == 3

    # hand model: bigram counts ab=6 (3+2+1), ba=6 (2+1+2+1), bb=1, aa=1;
    # contexts a = ab+aa = 7, b = ba+bb = 7;
    # vocab = TRANSITION vocabulary {a, b} -> V=2 (docs 5/6 form no
    # bigrams, so their tokens never enter the conditioning vocabulary)
    V, al = 2, 0.5
    def p(cbg, c1):
        return (cbg + al) / (c1 + al * V)
    s1 = -(3 * math.log(p(6, 7)) + 2 * math.log(p(6, 7))) / 5
    assert abs(got[1]["avg_neg_logprob"] - round(s1, 4)) < 1e-9
    s4 = -(math.log(p(1, 7)) + math.log(p(6, 7)) + math.log(p(1, 7))) / 3
    assert abs(got[4]["avg_neg_logprob"] - round(s4, 4)) < 1e-9
    # the unusual-transition doc is rarer under the bigram model
    assert got[4]["avg_neg_logprob"] > got[1]["avg_neg_logprob"]


def test_wilson_keep_rate_hand_computed(spark):
    """Wilson lower bound against hand-evaluated algebra, the
    small-sample shrink (1/1 is NOT a perfect group), and the
    NULL-verdict-counts-as-reject contract."""
    import math

    from science_datalake_spark.operators.stats import wilson_keep_rate

    df = spark.createDataFrame(
        [("a", True), ("a", True), ("a", False), ("a", True),
         ("b", True),
         ("c", None), ("c", True)],
        "g STRING, keep BOOLEAN",
    )
    got = {r["g"]: r for r in wilson_keep_rate(df, "g", "keep").collect()}

    def wilson(k, n, z=1.96):
        p = k / n
        return (p + z * z / (2 * n) - z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))) / (1 + z * z / n)

    assert got["a"]["n"] == 4 and got["a"]["n_kept"] == 3
    assert got["a"]["keep_rate"] == 0.75
    assert abs(got["a"]["keep_rate_lb"] - round(wilson(3, 4), 4)) < 1e-9
    # 1/1 shrinks far below the raw 1.0 rate
    assert got["b"]["keep_rate"] == 1.0
    assert abs(got["b"]["keep_rate_lb"] - round(wilson(1, 1), 4)) < 1e-9
    assert got["b"]["keep_rate_lb"] < 0.3
    # NULL verdict is a reject, not a silent keep
    assert got["c"]["n"] == 2 and got["c"]["n_kept"] == 1


def test_bigram_hash_keys_collision_free_on_fixture(spark, sf_oracle):
    """The bigram LM keys tokens by xxhash64 longs; a 64-bit collision
    would silently merge distinct tokens (changing every score vs the
    string-keyed oracle) with no detection. Guard: on the fixture
    corpus, distinct hash count == distinct token count, so a collision
    fails loudly here instead of corrupting scores."""
    import pyspark.sql.functions as F

    d = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    toks = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("t")
    )
    r = toks.agg(
        F.countDistinct("t").alias("n_str"),
        F.countDistinct(F.xxhash64("t")).alias("n_hash"),
    ).first()
    assert r["n_str"] == r["n_hash"], "xxhash64 token collision on fixture"


def test_exact_group_quantiles_histogram_matches_parallel(spark, sf_oracle):
    """The bounded-domain histogram engine returns bit-identical
    quantiles to the row-ranked parallel engine (and therefore to
    DuckDB quantile_cont, which the parallel engine is driver-proven
    against), including NULL group keys and NULL values."""
    import pyspark.sql.functions as F

    from science_datalake_spark.operators.stats import (
        exact_group_quantiles_histogram,
        exact_group_quantiles_parallel,
    )

    li = spark.read.parquet(f"{sf_oracle}/lineitem.parquet").select(
        F.when(F.col("l_linenumber") == 1, None)
        .otherwise(F.col("l_returnflag"))
        .alias("g"),
        F.when(F.col("l_orderkey") % 97 == 0, None)
        .otherwise(F.col("l_extendedprice"))
        .alias("v"),
    )
    kw = dict(quantiles=(0.25, 0.5, 0.75, 0.95), out_names=("a", "b", "c", "d"))
    hist = {
        r["g"]: (r["a"], r["b"], r["c"], r["d"])
        for r in exact_group_quantiles_histogram(li, ["g"], "v", **kw).collect()
    }
    par = {
        r["g"]: (r["a"], r["b"], r["c"], r["d"])
        for r in exact_group_quantiles_parallel(li, ["g"], "v", **kw).collect()
    }
    assert hist == par and len(hist) >= 2 and None in hist
    # blocked two-level cumsum (round 13): identical results at several
    # widths, including degenerate ones (width larger than the domain ->
    # one block per group == the plain path; tiny width -> many blocks)
    for w in (1024.0, 7.0, 1e9):
        blk = {
            r["g"]: (r["a"], r["b"], r["c"], r["d"])
            for r in exact_group_quantiles_histogram(
                li, ["g"], "v", block_width=w, **kw
            ).collect()
        }
        assert blk == hist, w
    # round-14 percentile-over-histogram engine: same histogram stage, rank
    # arithmetic fused into one percentile(value, array, frequency) aggregate
    # -> must be value-identical to the window-over-histogram path
    from science_datalake_spark.operators.stats import (
        exact_group_quantiles_percentile,
    )

    perc = {
        r["g"]: (r["a"], r["b"], r["c"], r["d"])
        for r in exact_group_quantiles_percentile(li, ["g"], "v", **kw).collect()
    }
    assert perc == hist
    # block_width <= 0 would make block ids decrease as values increase and
    # silently corrupt the cumulative offsets (r13 advice): rejected up front
    import pytest as _pytest

    for bad in (0, -5.0):
        with _pytest.raises(ValueError, match="block_width"):
            exact_group_quantiles_histogram(li, ["g"], "v", block_width=bad, **kw)


def test_trigram_logprob_scores_hand_computed(spark):
    """Trigram LM arithmetic on a tiny hand-computable corpus plus the
    degenerate contracts (<3-token docs -> NULL score, n_trigrams 0) and
    the discriminating power over the bigram tier: a doc whose ADJACENT
    PAIRS are all common but whose triples are novel scores high."""
    import math

    from science_datalake_spark.operators.ranking import trigram_logprob_scores

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c"),   # dominant pattern: abc abc
            (2, "a b c"),
            (3, "b c a b"),
            (4, "c a b"),
            (5, "a b"),           # too short: no trigrams
            (6, ""),
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        r["doc_id"]: r
        for r in trigram_logprob_scores(docs, "doc_id", "text").collect()
    }
    assert got[5]["n_trigrams"] == 0 and got[5]["avg_neg_logprob"] is None
    assert got[6]["n_trigrams"] == 0 and got[6]["avg_neg_logprob"] is None
    assert got[1]["n_trigrams"] == 4 and got[2]["n_trigrams"] == 1

    # trigram counts: abc=3 (docs 1x2 + 2), bca=2 (docs 1 + 3),
    # cab=3 (docs 1 + 3 + 4); contexts: ab=3, bc=2, ca=3;
    # transition vocab = {a,b,c} -> V=3
    V, al = 3, 0.5

    def p(c3, c12):
        return (c3 + al) / (c12 + al * V)

    s1 = -(2 * math.log(p(3, 3)) + math.log(p(2, 2)) + math.log(p(3, 3))) / 4
    assert abs(got[1]["avg_neg_logprob"] - round(s1, 4)) < 1e-9
    s2 = -math.log(p(3, 3))
    assert abs(got[2]["avg_neg_logprob"] - round(s2, 4)) < 1e-9
    s3 = -(math.log(p(2, 2)) + math.log(p(3, 3))) / 2
    assert abs(got[3]["avg_neg_logprob"] - round(s3, 4)) < 1e-9


def test_ql_scores_smoothing_covers_missing_terms(spark):
    """Dirichlet QL: a candidate doc missing one query term still gets that
    term's mu*p(q|C) smoothed contribution — pinned against a hand
    computation on a 3-doc corpus."""
    import math

    from science_datalake_spark.operators.ranking import ql_scores

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "durian durian")],
        ["doc_id", "text"],
    )
    mu = 10.0
    got = {
        r["doc_id"]: r["ql"]
        for r in ql_scores(docs, "doc_id", "text", ["apple", "cherry"], mu=mu).collect()
    }
    # doc 3 matches neither term -> not a candidate
    assert set(got) == {1, 2}
    total = 7  # tokens in corpus
    p_apple, p_cherry = 2 / total, 1 / total
    want1 = round(
        math.log((2 + mu * p_apple) / (3 + mu))
        + math.log((0 + mu * p_cherry) / (3 + mu)),
        4,
    )
    want2 = round(
        math.log((0 + mu * p_apple) / (2 + mu))
        + math.log((1 + mu * p_cherry) / (2 + mu)),
        4,
    )
    assert abs(got[1] - want1) < 1e-9
    assert abs(got[2] - want2) < 1e-9


def test_rrf_fuse_hand_computed(spark):
    """RRF over two rankings with partial overlap: contributions are
    1/(k+rank) per list, 0 where absent."""
    from science_datalake_spark.operators.ranking import rrf_fuse

    a = spark.createDataFrame([(1, 9.0), (2, 5.0), (3, 1.0)], ["id", "sa"])
    b = spark.createDataFrame([(2, 8.0), (4, 7.0)], ["id", "sb"])
    got = {
        r["id"]: (r["rrf"], r["sa"], r["sb"])
        for r in rrf_fuse([(a, "sa"), (b, "sb")], "id", k=10).collect()
    }
    assert abs(got[1][0] - 1 / 11) < 1e-12 and got[1][2] is None
    assert abs(got[2][0] - (1 / 12 + 1 / 11)) < 1e-12
    assert abs(got[3][0] - 1 / 13) < 1e-12
    assert abs(got[4][0] - 1 / 12) < 1e-12 and got[4][1] is None


def test_bm25_batch_matches_single_query_scorer(spark, sf_oracle):
    """bm25_batch_scores on a 1-query batch must equal bm25_scores for the
    same terms (same idf, same per-doc sums), and a 2-query batch must
    score each query independently."""
    from science_datalake_spark.operators.ranking import bm25_batch_scores, bm25_scores

    d = table(spark, sf_oracle, "documents")
    terms = ["spark", "table", "merge"]
    single = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(d, "doc_id", "text", terms).collect()
    }
    q = spark.createDataFrame(
        [(1, t) for t in terms] + [(2, "data")], ["qid", "term"]
    )
    batch = bm25_batch_scores(d, "doc_id", "text", q, "qid", "term").collect()
    got1 = {r["doc_id"]: r["bm25"] for r in batch if r["qid"] == 1}
    assert got1 == single
    # query 2 scored independently (different candidate set)
    got2 = {r["doc_id"] for r in batch if r["qid"] == 2}
    assert got2  # 'data' occurs in the fixture corpus
    assert got2 != set(got1)
