"""Graph operators over edge-list DataFrames: k-hop expansion,
transitive closure, co-occurrence.

Reference parallel: the citation graph is edge lists (s2ag.citations 2.9B,
openalex.works_referenced_works 3.01B — SCHEMA.md:353-371) queried via
self-joins; ontology hierarchies traverse parent/child edges
(convert_ontologies.py hierarchy tables). Spark-first: graph ops =
iterative DataFrame joins (GraphFrames is the same thing packaged).

Scale: every hop is one shuffle on the join key. Transitive closure
checkpoints each iteration (breaks lineage growth) and runs to its fixed
point: each round doubles the reachable path length, so a graph of
diameter D closes in about log2(D)+1 rounds and the answer is never
truncated. On a 3B-edge citation graph, pre-partition both sides on the
join key so hops reuse the partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    FloatType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel


def _release_checkpoint(df: DataFrame | None) -> None:
    """Free the cached blocks behind a ``localCheckpoint`` result.

    ``localCheckpoint`` persists one RDD per call and ``DataFrame.
    unpersist`` does NOT release it (it only touches CacheManager entries),
    so iterative algorithms leak one cached RDD per iteration — the cache
    grows linearly with rounds (round-2/3 advice finding; measured: +1
    persistent RDD per iteration). The checkpointed RDD is reachable via
    the analyzed ``LogicalRDD`` plan node; unpersisting it there keeps the
    persistent-RDD count flat. Only call this AFTER the next iteration's
    checkpoint has been eagerly materialized: its blocks no longer read
    the previous ones (that ordering is the same no-recompute assumption
    localCheckpoint itself makes). A plan with no ``LogicalRDD`` at its
    root fails JVM-side (``Py4JError``) and is left to GC; any other
    error propagates."""
    from py4j.protocol import Py4JError

    if df is None:
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Py4JError:
        pass


def k_hop(edges: DataFrame, start: DataFrame, k: int, src: str = "src", dst: str = "dst") -> DataFrame:
    """Nodes reachable from ``start`` (column ``node``) in exactly ≤k hops,
    with the minimum hop distance."""
    frontier = start.select(F.col("node"), F.lit(0).alias("hop"))
    seen = frontier
    for hop in range(1, k + 1):
        nxt = (
            frontier.join(edges, frontier.node == F.col(src))
            .select(F.col(dst).alias("node"), F.lit(hop).alias("hop"))
            .distinct()
            .join(seen.select("node"), "node", "left_anti")
        )
        if nxt.isEmpty():
            break
        seen = seen.unionByName(nxt)
        frontier = nxt
    return seen


#: transitive_closure's driver tier: edge sets of at most this many rows
#: are collected and closed in-process
_CLOSURE_SMALL_GRAPH_ROWS = 65536
#: ... unless the closure itself outgrows this many pairs on the driver
_CLOSURE_PAIR_CAP = 2_000_000


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """All (ancestor, descendant) pairs by iterated self-join to a fixed
    point (ontology ancestor expansion). Each iteration doubles reachable
    path length; localCheckpoint truncates the exploding lineage. The
    loop runs until the pair count stops growing: the closure is finite
    and grows monotonically, so it ends after about log2(diameter)+1
    rounds with every path, however long.

    Bounded driver fast path: ontology taxonomies — the operator's actual
    workload (SKOS broader*, OBO is_a walks) — are small by contract, yet
    the distributed loop pays ~2 scheduled jobs PER DOUBLING round just
    to reach its fixpoint (the sparql family's floor-class bench rows
    were 26 jobs for a 7-edge fixture). A ``limit(cap+1)`` probe
    (short-circuits, never scans a big relation) collects edge sets of up
    to ``_CLOSURE_SMALL_GRAPH_ROWS`` rows and closes them in-process —
    ONE job total. Bigger graphs, and small ones whose closure exceeds
    ``_CLOSURE_PAIR_CAP`` pairs, take the distributed loop. Both tiers
    return the identical pair set: expansion never traverses a NULL
    endpoint, matching the join's null semantics, and pair dedup is
    null-safe, matching ``distinct()``."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("d"))
    head = e.limit(_CLOSURE_SMALL_GRAPH_ROWS + 1).collect()
    if len(head) <= _CLOSURE_SMALL_GRAPH_ROWS:
        # the CLOSURE can still be quadratic in a deep chain even when the
        # edge set is small; bail to the distributed loop (which spills)
        # if the pair set outgrows driver comfort
        base = {(r["a"], r["d"]) for r in head}
        adj: dict = {}
        for a, d in base:
            adj.setdefault(a, set()).add(d)
        out: set | None = set()
        for a in {p[0] for p in base}:
            seen = set(adj[a])
            stack = [d for d in seen if d is not None]
            while stack:
                mid = stack.pop()
                for d2 in adj.get(mid, ()):
                    if d2 not in seen:
                        seen.add(d2)
                        if d2 is not None:
                            stack.append(d2)
            out.update((a, d) for d in seen)
            if len(out) > _CLOSURE_PAIR_CAP:
                out = None
                break
        if out is not None:
            return e.sparkSession.createDataFrame(list(out), schema=e.schema)
    closure = e.distinct()
    prev_ckpt: DataFrame | None = None
    # carry the previous size in a Python variable, and materialize each
    # round's LAZY checkpoint through its count: ONE action per iteration
    # (eager-checkpoint + count was two jobs per round)
    prev_n = closure.count()
    while True:
        hop = (
            closure.alias("l")
            .join(closure.alias("r"), F.col("l.d") == F.col("r.a"))
            .select(F.col("l.a").alias("a"), F.col("r.d").alias("d"))
        )
        grown = closure.unionByName(hop).distinct().localCheckpoint(eager=False)
        n = grown.count()
        _release_checkpoint(prev_ckpt)
        prev_ckpt = grown
        if n == prev_n:
            return grown
        prev_n = n
        closure = grown


def _large_star(sym: DataFrame) -> DataFrame:
    """One large-star round: every node u connects each strictly-LARGER
    neighbor to m = min(N(u) ∪ {u}).

    The per-node minimum is a window aggregate over the SAME relation,
    not a groupBy + self-join. Inside the star loop the STATIC planner
    auto-broadcasts the tiny min relations of the join form (AQE is
    gated off at small scales; one round planned 3 BroadcastHashJoins fed
    by 4 BroadcastExchanges), and each BroadcastExchange materializes as
    its own job — at the loop's small per-round volumes those extra jobs
    cost more than the round's data work (26 -> 8 jobs per CC at sf0.1,
    identical labels; BENCH_NOTES.md r14). The window form is one
    exchange on u, no join. Its trade: AQE can split a skewed join but
    not a skewed window partition; the dedup consumer's star edges have
    construction-bounded degrees (max_bucket caps bucket size).

    The output is deliberately NOT distinct'd: its only consumer is
    ``_small_star``, whose min-aggregate is duplicate-insensitive and
    whose terminal distinct produces the round's set anyway."""
    w = Window.partitionBy("u")
    s = sym.withColumn("__m", F.least(F.col("u"), F.min("v").over(w)))
    return (
        s.filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
    )


def _small_star(sym: DataFrame) -> DataFrame:
    """One small-star round: orient edges toward the smaller endpoint, then
    every node u connects each smaller neighbor AND itself to m = min of
    its smaller neighbors (a window aggregate — see ``_large_star``). The
    self-edge leg is deduped before the union (one row per u) so the
    final distinct sees no extra volume."""
    dn = sym.filter(F.col("v") < F.col("u"))
    w = Window.partitionBy("u")
    s = dn.withColumn("__m", F.min("v").over(w))
    nbr_edges = s.select(F.col("v").alias("u"), F.col("__m").alias("v"))
    self_edges = s.select("u", F.col("__m").alias("v")).distinct()
    return (
        nbr_edges.unionByName(self_edges)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _union_find_labels_local(us: list, vs: list) -> dict:
    """Driver-side union-find over a normalized (u >= v, distinct) edge
    list — the small-graph engine behind ``connected_components_star``'s
    bounded fast path. Attaching the larger root under the smaller keeps
    every root equal to its component's MINIMUM (the same canonical label
    the distributed rounds produce); path-halving keeps finds near-O(1).
    Self-loop rows mark isolated nodes: they label themselves unless some
    real edge also touches them. Python ``min``/``<`` on str compares by
    code point and Spark's UTF8String comparison is byte-wise — UTF-8
    byte order equals code-point order, so string labels agree."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    self_loops = []
    for u, v in zip(us, vs):
        if u == v:
            self_loops.append(u)
            continue
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                parent[ru] = rv
            else:
                parent[rv] = ru
    labels = {n: find(n) for n in parent}
    for s in self_loops:
        if s not in labels:
            labels[s] = s
    return labels


#: star rounds before connected_components_star fails loudly; O(log n)
#: rounds suffice, so 30 covers any graph that fits a cluster
_STAR_MAX_ROUNDS = 30
#: connected_components_star's driver tier: a normalized edge set of at
#: most this many rows is collected and labeled by union-find ...
_CC_SMALL_GRAPH_EDGES = 200_000
#: ... unless its string/binary ids sum to more than this many bytes
_CC_SMALL_GRAPH_BYTES = 64 * 1024 * 1024


def connected_components_star(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, component) labels by the large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    converges in O(log n) rounds INDEPENDENT of component diameter, so a
    billion-node citation chain costs ~30 rounds where min-label
    propagation would need a billion. Every node maps to its component's
    minimum — the stage that turns near-dup candidate PAIRS into
    duplicate CLUSTERS with a canonical id.

    Each round is two min-per-node window attachments on the node key
    (``_large_star``, ``_small_star``), alternating edge orientations.
    Convergence = the edge multiset is a fixed set of stars (small-star
    changes nothing); a graph that has not converged after
    ``_STAR_MAX_ROUNDS`` rounds raises instead of returning partial
    labels. Per-round localCheckpoint truncates lineage; the previous
    round's blocks are released each time.

    ``_CC_SMALL_GRAPH_EDGES`` (round-14 optimization 1, guide §3.1's
    "broadcast the side that fits" applied to graphs): when the
    normalized distinct edge set is at most this many rows, collect it
    via Arrow and label with a driver-side union-find instead of running
    the distributed rounds. Every round of the loop is a fixed ~0.4-0.5 s
    of pure job scheduling at small edge volumes (the sf0.1 dedup graph:
    2,260 edges, 8 jobs, ~4 s — measured by tools/decompose_cluster_sizes
    .py), while 200k normalized edges are a ~10 MB broadcast-class
    collect (same size discipline as autoBroadcastJoinThreshold) and a
    sub-0.3 s union-find. Labels are identical by construction (union
    attaches the larger root under the smaller, so every root is the
    component minimum) and pinned by test against the distributed rounds.
    The gate costs one count on the already-checkpointed normalized
    relation; above it, the rounds run exactly as before. This is a
    size-adaptive engine tier, not a local-mode tune: at 100 TB the edge
    set blows past any such threshold and the O(log n) rounds carry the
    query, exactly like a sort-merge join past the broadcast threshold.

    Two r15 guards (round-14 ADVICE):

    - ``_CC_SMALL_GRAPH_BYTES`` caps the COLLECTED size, not just the row
      count — with wide string node ids (long URLs/hashes) 200k edges
      can be hundreds of MB on the driver plus a comparable Python dict.
      For string/binary ids the byte estimate is ``sum(octet_length)``
      measured in the SAME single aggregation job as the row count (no
      extra pass); fixed-width ids are bounded by the row gate alone.
    - Fractional node ids (float/double) skip the fast path entirely:
      Spark's greatest/least order NaN as largest while Python NaN
      comparisons are always False, so a NaN-labeled graph could pick a
      different union-by-min root than the distributed rounds. The
      supported fast-path id types are string/integral/binary/date/
      timestamp/decimal, whose Python ``<`` agrees with Spark's
      ordering."""
    # One normalization both engines share: drop null endpoints (a null
    # src/dst never survived the src==dst / src!=dst comparisons of the
    # pre-r14 shape either), orient u >= v, dedup, checkpoint. Self-loops
    # stay in (they mark isolated nodes); the loop filters them out of
    # its working set below.
    norm = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    id_type = norm.schema["u"].dataType
    use_fast_path = False
    if not isinstance(id_type, (DoubleType, FloatType)):
        if isinstance(id_type, (StringType, BinaryType)):
            gate = norm.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.octet_length(F.col("u")) + F.octet_length(F.col("v"))
                ).alias("b"),
            ).collect()[0]
            n_edges = gate["n"]
            est_bytes = int(gate["b"] or 0)
        else:
            n_edges = norm.count()
            est_bytes = n_edges * 16  # two fixed-width ids
        use_fast_path = (
            n_edges <= _CC_SMALL_GRAPH_EDGES and est_bytes <= _CC_SMALL_GRAPH_BYTES
        )
    if use_fast_path:
        import pandas as pd

        pdf = norm.toPandas()
        _release_checkpoint(norm)
        labels = _union_find_labels_local(list(pdf["u"]), list(pdf["v"]))
        out_schema = StructType(
            [
                StructField("node", norm.schema["u"].dataType),
                StructField("comp", norm.schema["u"].dataType),
            ]
        )
        out_pdf = pd.DataFrame(
            {"node": list(labels.keys()), "comp": list(labels.values())}
        )
        return edges.sparkSession.createDataFrame(out_pdf, schema=out_schema)
    isolated = (
        edges.filter(F.col(src) == F.col(dst))
        .select(F.col(src).alias("node"))
        .distinct()
    )
    cur = norm.filter(F.col("u") != F.col("v"))
    prev_ckpt: DataFrame = norm
    converged = False
    for _ in range(_STAR_MAX_ROUNDS):
        sym = cur.unionByName(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star output is already oriented larger→smaller, which is
        # exactly the grouping small-star wants — no re-symmetrization.
        # Lazy checkpoint + one full-outer set-difference probe = ONE job
        # per round (both sides are distinct edge sets, so any row missing
        # from either side means the sets differ).
        nxt = _small_star(_large_star(sym)).localCheckpoint(eager=False)
        diff = (
            nxt.withColumn("__n", F.lit(1))
            .join(cur.withColumn("__c", F.lit(1)), ["u", "v"], "full_outer")
            .agg(
                F.sum(
                    F.when(F.col("__n").isNull() | F.col("__c").isNull(), 1).otherwise(0)
                ).alias("d")
            )
            .first()["d"]
        )
        _release_checkpoint(prev_ckpt)
        prev_ckpt = nxt
        cur = nxt
        if not diff:
            converged = True
            break
    if not converged:
        _release_checkpoint(prev_ckpt)
        raise RuntimeError(
            "connected_components_star did not converge in "
            f"{_STAR_MAX_ROUNDS} rounds"
        )
    # cur is a star forest pointing at component minima: (u → root).
    # Roots label themselves; nodes only ever seen as isolated self-loops
    # form singleton components.
    members = cur.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    roots = cur.select(F.col("v").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    )
    singletons = (
        isolated.join(
            members.select("node").unionByName(roots.select("node")).distinct(),
            "node",
            "left_anti",
        ).withColumn("comp", F.col("node"))
    )
    return members.unionByName(roots).unionByName(singletons)


def cooccurrence(
    memberships: DataFrame,
    group_col: str,
    item_col: str,
    min_count: int = 1,
    max_group_size: int | None = None,
    num_partitions: int | None = None,
    pack_keys: bool = False,
) -> DataFrame:
    """Item pairs sharing a group (papers sharing a topic, parts sharing an
    order), with co-occurrence counts. The self-join key is the group —
    bucket sizes bound the quadratic term exactly like LSH bands.

    Plan: NOT a self-join. ``collect_set(item)`` per group (one shuffle,
    map-side partial sets, dedup included), then pairs are enumerated by
    TWO chained generators: posexplode the item array (one row per item,
    carrying the array), then explode each item's slice of LATER items.
    Both generators stream row-at-a-time through codegen, so the largest
    single value ever materialized is one group's O(n) item array (the
    same array collect_set already built) — never an O(n²) pair array.
    One more pair-count shuffle and done: two shuffles total, membership
    scanned ONCE. The self-join formulation scans and distinct-shuffles
    the relation once per join side (no ReusedExchange across a
    BroadcastExchange boundary; observed 1.8s → this shape ~1.5× faster
    at sf0.1) and streams the same O(Σ group²) pair rows anyway.

    ``max_group_size`` is the skew guard (round-1 verdict finding): one
    degenerate group — a mega-venue with 100k papers — still streams
    O(n²) pair ROWS from a single generator input; the guard is a plain
    ``size(items) <= cap`` filter after the group agg. Co-occurrence
    inside such groups is near-meaningless (everything co-occurs with
    everything), so cap when corpus skew is unknown. Same cap discipline
    as the LSH bucket guard (dedup.py).

    ``num_partitions``: width of BOTH shuffles (the group agg and the
    pair count). The pair stream is QUADRATIC in group size, so sizing
    reducers off input bytes (the usual shuffle.partitions rule)
    undersizes the expanded stage — at sf1 local[32] the input rule gave
    8 reducers and the suite ran 3.8 s; explicitly widening both
    exchanges to core count ran 1.69 s (decomposition in
    BENCH_NOTES.md r12). Default None = max(defaultParallelism,
    spark.sql.shuffle.partitions) — on a real cluster the configured
    thousands win, locally the core count wins. The explicit repartition
    trades away map-side partial aggregation, a loss only when the SAME
    pair repeats across many groups AND already co-lives in a partition
    — measured a net win here even so.

    ``pack_keys``: pack (item_a, item_b) into ONE bigint
    (``item_a << 32 | item_b``) for the count shuffle, unpacked after —
    the shuffle moves 8-byte keys and the final hash agg runs on a
    single primitive long (Spark's vectorized fast path) instead of a
    two-column row; measured ~10% at sf1. ONLY valid when item ids are
    non-negative and < 2^31 (OpenAlex work ids exceed it; TPC-H partkeys
    at bench scales do not), hence opt-in — and the contract is ENFORCED,
    not just documented: an assert_true is folded onto the grouped item
    arrays, so an out-of-range id fails the job loudly instead of
    sign-extending/overflowing into silently collided pairs (round-12
    advice). The check sits on the per-GROUP sorted array (collect_set
    output is sort_array'd), where range-validity is just first-element
    >= 0 AND last-element < 2^31 — two compares per group instead of two
    per input row (the per-row form measured 1.41 -> 1.55 s at sf1 and
    inverted the packing win; the per-group form is ~12x fewer
    evaluations on this data). NULL ids stay allowed — collect_set drops
    them on both layouts."""
    spark = memberships.sparkSession
    if num_partitions is None:
        num_partitions = max(
            spark.sparkContext.defaultParallelism,
            int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        )
    grouped = (
        memberships.repartition(num_partitions, group_col)
        .groupBy(group_col)
        .agg(F.sort_array(F.collect_set(item_col)).alias("__items"))
    )
    if max_group_size is not None:
        grouped = grouped.filter(F.size("__items") <= max_group_size)
    if pack_keys:
        in_range = (F.size("__items") == 0) | (
            (F.element_at("__items", 1) >= 0)
            & (F.element_at("__items", F.size("__items")) < F.lit(2**31))
        )
        grouped = grouped.withColumn(
            "__items",
            F.when(
                F.assert_true(
                    in_range,
                    F.concat(
                        F.lit(
                            "cooccurrence(pack_keys=True) requires "
                            "0 <= item id < 2^31; group item range ["
                        ),
                        F.element_at("__items", 1).cast("string"),
                        F.lit(", "),
                        F.element_at("__items", F.size("__items")).cast("string"),
                        F.lit("]"),
                    ),
                ).isNull(),
                F.col("__items"),
            ),
        )
    exploded = grouped.select(
        F.col("__items"), F.posexplode("__items").alias("__i", "item_a")
    )
    later = F.expr("slice(__items, __i + 2, size(__items) - __i - 1)")
    pairs = exploded.select(F.col("item_a"), F.explode(later).alias("item_b"))
    if pack_keys:
        pk = pairs.select(
            F.shiftleft(F.col("item_a").cast("bigint"), 32)
            .bitwiseOR(F.col("item_b").cast("bigint"))
            .alias("__pk")
        )
        cnt = (
            pk.repartition(num_partitions, "__pk")
            .groupBy("__pk")
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= min_count)
        )
        return cnt.select(
            F.shiftright(F.col("__pk"), 32).alias("item_a"),
            F.col("__pk").bitwiseAND(F.lit(0x7FFFFFFF)).alias("item_b"),
            "n_shared",
        )
    return (
        pairs.repartition(num_partitions, "item_a", "item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_count)
    )


#: pagerank truncates its rank lineage every this many iterations
_PAGERANK_CHECKPOINT_EVERY = 5


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
    iter_round: int | None = None,
    dedup_edges: bool = True,
    tol: float | None = None,
) -> DataFrame:
    """PageRank by power iteration — the second iterative graph workload
    beside connected_components_star (citation-impact ranking over a 100 TB
    citation graph is the scholarly-analytics flagship this serves).

    Per iteration: one rank⨝edges join keyed on the source (both sides
    hash-partition on the same key every round — the partitioning is
    reused across iterations), one groupBy(dst) partial-combinable sum,
    one left join back onto the node set for dangling-IN nodes. Simplified
    PR: rank leaving nodes with no out-edges is not redistributed (the
    standard teleport-only formulation; document the mass leak rather
    than hiding a driver-side dangling-sum action in the loop). The node
    count rides as a broadcast 1-row aggregate — no driver-side count,
    zero jobs run in this function.

    ``iter_round``: rounding applied to each iteration's rank (half-up,
    like SQL ROUND). For cross-engine oracle parity the twin must round
    identically per iteration so both engines iterate on IDENTICAL
    inputs — float summation order inside one iteration's aggregation
    then cannot accumulate across iterations. A localCheckpoint every
    ``_PAGERANK_CHECKPOINT_EVERY`` rounds truncates lineage (the plan
    doubles per iteration otherwise; same discipline as
    connected_components_star).

    ``dedup_edges=True`` (default) treats the input as a SIMPLE graph —
    repeated (src, dst) rows collapse to one edge. A citation MULTIGRAPH
    where multiplicity should weight the contribution (cited 100× by one
    paper ≠ cited once) passes ``dedup_edges=False``: duplicate rows then
    each contribute rank/out_degree, which IS integer edge weighting
    (out-degree counts duplicates too).

    ``tol``: L1 convergence early-exit — when set, ``iters`` becomes a
    CAP and the loop stops once sum(|rank_i - rank_{i-1}|) <= tol. This
    trades the tol=None contract of ZERO in-loop driver actions for one
    delta aggregation per iteration; each iteration then materializes
    through an eager localCheckpoint (the delta action would otherwise
    replay the whole lineage every round, and the prev-rank-carrying
    build references the previous frame twice)."""
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    if dedup_edges:
        e = e.distinct()
    # The node set and the degree-annotated edge relation are read EVERY
    # iteration; without a persist each round re-derives them from the
    # raw edges (a scan + a distinct shuffle + a degree join per round —
    # 10 iterations paid 10×). Persist (columnar InMemoryRelation), NOT
    # localCheckpoint: checkpoint blocks are row-serialized InternalRows
    # and the 10 per-iteration reads through Scan ExistingRDD measured
    # 3× slower than InMemoryTableScan (r12 A/B: 1.6 s -> 4.7 s at sf1).
    # Session-lifetime is bounded: CacheManager canonicalizes plans, so
    # repeated pagerank runs over the same edges share ONE cache entry —
    # no per-run accumulation (the r11 advisor concern); MEMORY_AND_DISK
    # spills instead of OOMing.
    nodes = (
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nn = nodes.agg(F.count("*").alias("__n"))
    deg = e.groupBy("__s").agg(F.count("*").alias("__deg"))
    e2 = e.join(deg, "__s").persist(StorageLevel.MEMORY_AND_DISK)
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("rank")
    )
    for i in range(iters):
        contrib = (
            e2.join(ranks, e2["__s"] == ranks["node"])
            .groupBy("__d")
            .agg(F.sum(F.col("rank") / F.col("__deg")).alias("__c"))
        )
        new_rank = (
            F.lit(1.0 - damping) / F.col("__n")
            + F.lit(damping) * F.coalesce(F.col("__c"), F.lit(0.0))
        )
        if iter_round is not None:
            new_rank = F.round(new_rank, iter_round)
        if tol is None:
            ranks = (
                nodes.join(contrib, nodes["node"] == contrib["__d"], "left")
                .crossJoin(F.broadcast(nn))
                .select("node", new_rank.alias("rank"))
            )
            if (i + 1) % _PAGERANK_CHECKPOINT_EVERY == 0 and i + 1 < iters:
                ranks = ranks.localCheckpoint(eager=False)
            continue
        # convergence mode: build from the rank frame itself (same node
        # set as `nodes`) so the previous rank rides along for the delta
        stepped = (
            ranks.withColumnRenamed("rank", "__prev")
            .join(contrib, F.col("node") == contrib["__d"], "left")
            .crossJoin(F.broadcast(nn))
            .select("node", "__prev", new_rank.alias("rank"))
            .localCheckpoint(eager=True)
        )
        delta = stepped.agg(
            F.sum(F.abs(F.col("rank") - F.col("__prev"))).alias("d")
        ).first()["d"]
        ranks = stepped.select("node", "rank")
        if delta is not None and delta <= tol:
            break
    if tol is not None:
        # convergence mode materialized the final ranks through an eager
        # checkpoint, so the invariant caches can be released NOW; the
        # tol=None result is lazy and still reads them at the caller's
        # action (one deduplicated CacheManager entry per edge relation —
        # bounded, see the persist comment above)
        nodes.unpersist()
        e2.unpersist()
    return ranks
