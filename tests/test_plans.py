"""Plan-quality pins: the scale-critical physical-plan properties of the
headline queries must not regress (pushdown, pruning, broadcast, top-k)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from science_datalake_spark import plans
from science_datalake_spark.catalog import table
from science_datalake_spark.queries import load_all, load_aux

# plan shapes are pinned regardless of which registry a query currently
# lives in — driver/aux rotation must never drop a plan test
QUERIES = {**load_aux()[0], **load_all()[0]}


@pytest.fixture(scope="module", autouse=True)
def no_aqe_plan_view(spark):
    """Inspect pre-AQE plans (AQE rewrites lazily at execution)."""
    yield


def test_filter_pushdown_reaches_scan(spark, sf_oracle):
    df = QUERIES["q1_pricing_summary"](spark, sf_oracle)
    assert plans.has_pushed_filters(df, "LessThanOrEqual(l_shipdate"), plans.physical_plan(df)


def test_column_pruning(spark, sf_oracle):
    """Q1 projects 7 of 11 lineitem columns — the scan must not read more."""
    df = QUERIES["q1_pricing_summary"](spark, sf_oracle)
    cols = set(plans.scan_columns(df))
    assert "l_orderkey" not in cols and "l_partkey" not in cols, cols
    assert {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"} <= cols


def test_dimension_joins_broadcast(spark, sf_oracle):
    df = QUERIES["q5_local_supplier_volume"](spark, sf_oracle)
    assert plans.uses_broadcast_join(df), plans.physical_plan(df)


def test_q5_single_fact_shuffle_join(spark, sf_oracle):
    """Only orders⨝lineitem may shuffle; dims broadcast. Allow the agg's
    exchange + the two fact-side exchanges at most."""
    df = QUERIES["q5_local_supplier_volume"](spark, sf_oracle)
    assert plans.count_exchanges(df) <= 4, plans.physical_plan(df)


def test_topk_is_take_ordered(spark, sf_oracle):
    df = QUERIES["topk_global"](spark, sf_oracle)
    assert plans.is_take_ordered(df), plans.physical_plan(df)


def test_window_dedup_single_shuffle(spark, sf_oracle):
    df = QUERIES["window_dedup_top1"](spark, sf_oracle)
    assert plans.count_exchanges(df) <= 2, plans.physical_plan(df)


def test_codegen_active(spark, sf_oracle):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = QUERIES["q1_pricing_summary"](spark, sf_oracle)
        assert plans.codegen_stage_count(df) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_anti_join_no_cross(spark, sf_oracle):
    plan = plans.physical_plan(QUERIES["join_anti_semi"](spark, sf_oracle))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_expression_join_stays_hash(spark, sf_oracle):
    """J5: computed join keys must not degrade to nested-loop."""
    plan = plans.physical_plan(QUERIES["join_expression_key"](spark, sf_oracle))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_struct_projection_collapses(spark, sf_oracle):
    """P1: build-struct-then-project must not materialize the struct —
    the scan reads only the 3 referenced columns."""
    df = QUERIES["proj_struct_strings"](spark, sf_oracle)
    cols = set(plans.scan_columns(df))
    assert cols <= {"c_custkey", "c_name", "c_mktsegment", "c_acctbal"}, cols


def test_cooccurrence_is_joinless_generators(spark, sf_oracle):
    """The cooccurrence plan must be collect_set + two streaming
    generators — no self-join, no O(n²) array materialization."""
    from science_datalake_spark.catalog import table
    from science_datalake_spark.operators.graph import cooccurrence

    li = table(spark, sf_oracle, "lineitem")
    plan = plans.physical_plan(cooccurrence(li, "l_orderkey", "l_partkey", min_count=2))
    assert "Join" not in plan, plan
    # two generator stages (posexplode + slice explode); the formatted plan
    # names each node in both the tree and the details section
    assert plan.count("Generate") >= 2, plan


def test_stats_profile_percentile_over_histogram_only(spark, sf_oracle):
    """agg_stats_profile's quantile contract, round-14 revision: Spark's
    percentile aggregate IS allowed — but only with a FREQUENCY column
    over the bounded (group, value) histogram (buffer size = value
    domain), never over raw corpus rows (buffer size = group row count,
    the round-1 OOM shape). The window sort the histogram engine used in
    rounds 11-13 must be gone (that was the fixed 3-task stage the r13
    verdict flagged), and the histogram stage itself must still be there
    feeding the percentile its counts."""
    df = QUERIES["agg_stats_profile"](spark, sf_oracle)
    plan = plans.physical_plan(df)
    assert "Window" not in plan, plan
    # frequency-weighted percentile over the histogram: the aggregate's
    # third argument is the histogram count column, not the literal 1
    # frequency the raw-row form would show
    assert "percentile(__v" in plan and "__c" in plan, plan
    # and the histogram stage exists: a count aggregated by (group, __v)
    assert "count(1)" in plan and "__v" in plan, plan


def test_bucketed_join_eliminates_shuffle(spark, sf_oracle, tmp_path):
    """Bucketing both fact tables on the join key makes the join
    shuffle-free — the co-located-join strategy for repeated big joins at
    100 TB (SURVEY §4 'pre-partitioning / bucketing'). Both sides bucketed
    by o_custkey/c_custkey into the same bucket count → zero exchanges."""
    import pyspark.sql.functions as F

    from science_datalake_spark.catalog import table

    o = table(spark, sf_oracle, "orders")
    c = table(spark, sf_oracle, "customer")
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS customer_bkt")
    (
        o.write.mode("overwrite")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable("orders_bkt")
    )
    (
        c.write.mode("overwrite")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable("customer_bkt")
    )
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ob = spark.table("orders_bkt")
        cb = spark.table("customer_bkt")
        joined = (
            ob.join(cb, ob.o_custkey == cb.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"))
        )
        # join itself is exchange-free; only the final agg shuffles
        assert plans.count_exchanges(joined) <= 1, plans.physical_plan(joined)
        assert plans.uses_sort_merge_join(joined)
        assert joined.count() == 5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS customer_bkt")


def test_new_driver_queries_plan_shapes(spark, sf_oracle):
    """Round-5 promoted queries keep their scale-critical shapes:
    corpus_pack_greedy = ONE shuffle (the shard group) into a single
    stateful pandas group-map; web_domain_cap = salted survivor window +
    broadcast threshold join; dedup_semantic = Arrow plan nodes (mapInPandas assignment +
    per-bucket group-map), never a cartesian product."""
    pack = QUERIES["corpus_pack_greedy"](spark, sf_oracle)
    p = plans.physical_plan(pack)
    assert "FlatMapGroupsInPandas" in p, p
    # shard shuffle + packing_stats agg + final sort are the only exchanges
    assert plans.count_exchanges(pack) <= 3, p

    dom = QUERIES["web_domain_cap"](spark, sf_oracle)
    p = plans.physical_plan(dom)
    # salted threshold cap: the only window runs over (domain, __salt)
    # with a partial WindowGroupLimit ahead of its exchange (at most cap
    # rows per group per map partition shuffle), so no single task ever
    # sorts a whole mega-domain...
    assert "__salt" in p, p
    assert "WindowGroupLimit" in p, p
    # ...and the corpus side joins the one-row-per-domain threshold
    # table map-only — broadcast, never a sort-merge of the corpus
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p

    sem = QUERIES["dedup_semantic"](spark, sf_oracle)
    p = plans.physical_plan(sem)
    assert "FlatMapGroupsInPandas" in p and "MapInPandas" in p, p
    assert "CartesianProduct" not in p, p


def test_vocab_zipf_ranks_after_topk_cut(spark, sf_oracle):
    """text_vocab_zipf must TakeOrdered-cut the vocabulary BEFORE the
    global rank window (a full-vocab global window is a single-reducer
    sort of every distinct term at corpus scale — sf0.1 parity-sweep
    finding)."""
    df = QUERIES["text_vocab_zipf"](spark, sf_oracle)
    p = plans.physical_plan(df)
    assert "TakeOrderedAndProject" in p, p


def test_round6_additive_query_plan_shapes(spark, sf_oracle):
    """New round-6 ops keep scale-critical shapes: text_ppl_buckets'
    assignment is a literal CASE (no join of corpus to thresholds, no
    global window); corpus_temperature_mix is the per-source running
    window + map threshold (no corpus-side join); text_intra_dedup is
    map-only (no shuffle at all before the final sort)."""
    ppl = QUERIES["text_ppl_buckets"](spark, sf_oracle)
    p = plans.physical_plan(ppl)
    # no window at all: thresholds are literals, assignment is a CASE
    # (the only join in the plan is the dtf-vocab scoring join)
    assert "Window" not in p, p

    mix = QUERIES["corpus_temperature_mix"](spark, sf_oracle)
    p = plans.physical_plan(mix)
    assert "Join" not in p, p  # weights resolve driver-side, not via join
    assert "Window" in p, p   # the per-source running token sum

    intra = QUERIES["text_intra_dedup"](spark, sf_oracle)
    p = plans.physical_plan(intra)
    assert "Join" not in p and "Window" not in p, p
    assert plans.count_exchanges(intra) <= 1, p  # only the final sort


def test_span_dedup_plan_shape(spark, sf_oracle):
    """strip_repeated_spans keeps its scale contract: window keys are
    hashed in-row and exploded as longs (no k-gram strings through the
    shuffle), no corpus-wide Window, no cartesian, and the whole op is
    a bounded number of hash exchanges (freq agg, covered-positions
    agg, join back + sort)."""
    df = QUERIES["text_span_dedup"](spark, sf_oracle)
    p = plans.physical_plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    assert "Window" not in p, p
    assert "xxhash64" in p, p  # keys hashed before the explode
    assert plans.count_exchanges(df) <= 5, p


def test_keep_best_single_window_shuffle(spark, sf_oracle):
    """Policy dedup (round 9) is ONE key-partitioned window pass + the
    final presentation sort — no join, no second data shuffle."""
    df = QUERIES["dedup_keep_best"](spark, sf_oracle)
    assert plans.count_exchanges(df) <= 2, plans.physical_plan(df)


def test_shard_shuffle_rollup_single_agg_shuffle(spark, sf_oracle):
    """Shard assignment is map-only; the per-shard audit pays one hash
    aggregate exchange (+ presentation sort). countDistinct expands to an
    extra partial, so allow 3 — but never a join or window."""
    df = QUERIES["corpus_shard_shuffle"](spark, sf_oracle)
    p = plans.physical_plan(df)
    assert plans.count_exchanges(df) <= 3, p
    assert "Join" not in p and "Window" not in p, p


def test_no_forced_broadcast_of_data_scaling_relations(spark, sf_oracle):
    """Round-10 policy (round-9 verdict item 1): forced broadcast hints
    are reserved for FIXED-cardinality relations (nation 25 / region 5
    rows at any SF). customer, supplier, and distinct-custkey sets scale
    with the data — a forced hint on them is a latent broadcast OOM at
    100×, so those joins are AQE's call. The expected counts pin exactly
    the nation/region hints and nothing else."""
    expected = {
        "top_customers_flagged": 2,  # nation + region
        "q3_top_unshipped_orders": 0,
        "q5_local_supplier_volume": 2,  # nation + region
        "join_expression_key": 0,
        "multi_hop_rollup": 2,  # nation + region
        "join_left_coverage_flags": 0,
        "agg_upset_flags": 0,
    }
    for name, hints in expected.items():
        df = QUERIES[name](spark, sf_oracle)
        got = plans.count_broadcast_hints(df)
        assert got == hints, (name, got, hints)


def test_range_overlap_spans_has_both_branches(spark, sf_oracle):
    """join_range_overlap_spans must plan the exact three-way pair-space
    partition: one banded equi join + two keyed theta fallback joins,
    unioned — and never a CartesianProduct (the `on` keys give Catalyst
    a hash component even on the fallback side)."""
    import re

    df = QUERIES["join_range_overlap_spans"](spark, sf_oracle)
    p = plans.physical_plan(df)
    joins = re.findall(r"^\(\d+\) \S*Join", p, flags=re.M)
    assert len(joins) == 3, (joins, p)
    assert "CartesianProduct" not in p, p
    assert "Union" in p, p


def test_range_overlap_keyed_plans_shuffled_hash_join(spark, sf_oracle):
    """join_range_overlap runs the keyed strategy: one shuffled-hash
    equi join on (partkey, suppkey) with the overlap as a post-filter —
    no band explode, no theta legs."""
    p = plans.physical_plan(QUERIES["join_range_overlap"](spark, sf_oracle))
    assert "ShuffledHashJoin" in p, p
    assert "__bucket" not in p and "Union" not in p, p


def test_no_cartesian_product_anywhere_in_registry(spark, sf_oracle):
    """Blanket scale pin over EVERY registered query (driver + aux):
    no plan may contain a CartesianProduct — the one join strategy that
    is quadratic at any cluster size. Bounded theta joins in the repo
    plan as BroadcastNestedLoopJoin with a guard-bounded build side,
    which is allowed; an unguarded cross of two big relations is not.
    Plan analysis only (nothing executes), so this runs on every future
    registry addition for free."""
    for name, fn in sorted(QUERIES.items()):
        p = plans.physical_plan(fn(spark, sf_oracle))
        assert "CartesianProduct" not in p, (name, p)


def test_tpch_revenue_joins_pin_scale_safe_strategies(spark, sf_oracle):
    """The static planner prices the pruned 2-column orders scan below the
    broadcast threshold and would single-thread a multi-million-entry hash
    build (a latent OOM at 100x, and measured 2-3x slower at sf3 — see
    BENCH_NOTES round-11 wave 2). The hints pin the scale-correct
    strategies: SMJ for orders x per-order revenue, shuffled-hash for
    lineitem x orders."""
    p1 = plans.physical_plan(QUERIES["top_customers_flagged"](spark, sf_oracle))
    assert "SortMergeJoin" in p1, p1
    p2 = plans.physical_plan(QUERIES["q3_top_unshipped_orders"](spark, sf_oracle))
    assert "ShuffledHashJoin" in p2, p2


def test_shared_relation_queries_reuse_cached_blocks(spark, sf_oracle):
    """search_hybrid_rrf and corpus_dsir_sample each materialize one
    skinny relation consumed by two pipeline legs; the physical plan
    must show the materialization being READ (InMemoryTableScan for the
    persisted postings; Scan ExistingRDD for dsir's auto-releasing
    localCheckpoint — the r12 cache-lifetime rework) rather than the
    upstream tokenization being inlined twice."""
    p = plans.physical_plan(QUERIES["search_hybrid_rrf"](spark, sf_oracle))
    assert "InMemoryTableScan" in p, p
    p = plans.physical_plan(QUERIES["corpus_dsir_sample"](spark, sf_oracle))
    assert "ExistingRDD" in p, p


def test_iterative_graph_ops_persist_invariant_relations(spark):
    """pagerank joins the degree-annotated edge relation and the node set
    every iteration; connected_components joins the symmetrized edge list
    every round. Without a persist each round re-executes the edge
    relation's entire upstream lineage (for dedup clustering: the whole
    minhash/LSH pipeline per round). Pin the invariant cache."""
    from science_datalake_spark.operators.graph import connected_components, pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["src", "dst"]
    )
    pr = pagerank(edges, iters=3)
    # pagerank keeps columnar persists (localCheckpoint's row-serialized
    # reads measured 3x slower across 10 iterations — r12 A/B); the
    # CacheManager deduplicates by canonical plan so repeated runs share
    # one entry rather than accumulating
    assert "InMemoryTableScan" in plans.physical_plan(pr)
    # connected_components' labels are checkpoint-materialized by its own
    # convergence probe, so the round-12 discipline is: the symmetrized
    # edge cache lives only DURING iteration and is released at return
    # (the r11 advisor's session-lifetime-leak finding). Assert both that
    # the result is right and that nothing stays cached behind it.
    spark.catalog.clearCache()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    labels = {
        (r["node"], r["comp"]) for r in connected_components(edges).collect()
    }
    assert labels == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    spark.catalog.clearCache()
